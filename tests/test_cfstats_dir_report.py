"""``cfstats --cassandra-dir``: the directory report sections against
plain-Python references, and the input invariant that lets both sources
share the parquet path's classification flags.

- The five ranking sections equal a ranking computed in Python from the
  decoded records (``data_cells(...).collect()``) and the Index.db sizes,
  on an edge tree with key ties, tombstones and row deletes on some
  partitions only, and partitions that have index entries but no records.
- ``data_cells`` never emits a NULL ``is_tombstone``, ``is_expiring`` or
  ``is_counter`` (nor an expiring record without a deletion time), through
  the C kernel's batches or the interpreted rows, so ``_flags``' NULL
  coalescing never fires on decoded input.
"""

from __future__ import annotations

import contextlib
import io
from collections import defaultdict

import pytest

from cassandra_sstable_tools_spark.__main__ import _render_rows, main
from cassandra_sstable_tools_spark.sources import cellwalk
from cassandra_sstable_tools_spark.sources.data_cells import (
    _COLS,
    data_cells,
    dir_partition_sizes,
    scan_sstable_cell_batches,
    scan_sstable_cell_rows,
)
from cassandra_sstable_tools_spark.sources.inventory import live_sstables
from cassandra_sstable_tools_spark.sources.sstable_binary import (
    materialize_index_files,
)

_N = 2
_RANK = ["keyspace", "table_name", "rank"]
_FLAG_COLS = ("is_tombstone", "is_expiring", "is_counter")


def _tree(root: str) -> str:
    """The purge edge tree (every delete kind, ties on cell counts) and the
    driver-report edge tree (equal-size partitions shared by two sstables)
    in one directory, plus ks3/hollow: partitions whose live header carries
    no rows, so Index.db lists them and the decoder emits no record."""
    from test_driver_reports import _cells
    from test_driver_reports import _edge_tree as report_tree
    from test_merge_scan import _delete
    from test_merge_scan import _edge_tree as purge_tree

    from cassandra_sstable_tools_spark.sources.data_db import (
        LIVE_LDT,
        LIVE_MFDA,
    )
    from cassandra_sstable_tools_spark.sources.pyds_writer import write_sstable

    purge_tree(root)
    report_tree(root)
    write_sstable(
        [
            *_cells("h1", 2),
            _delete("h2", "PARTITION_DELETE", LIVE_MFDA, LIVE_LDT,
                    clustering=None),
            _delete("h3", "PARTITION_DELETE", LIVE_MFDA, LIVE_LDT,
                    clustering=None),
        ],
        f"{root}/ks3/hollow", sstable_id="1",
    )
    return root


@pytest.fixture(scope="module")
def tree_root(tmp_path_factory):
    return _tree(str(tmp_path_factory.mktemp("cfstats_edge") / "data"))


def _report(spark, root) -> str:
    out = io.StringIO()
    with contextlib.redirect_stdout(out), \
            contextlib.redirect_stderr(io.StringIO()):
        rc = main(["cfstats", "--cassandra-dir", root, "-n", str(_N), "-b"],
                  spark=spark)
    assert rc == 0
    return out.getvalue()


def _top(per_table: dict, metric: str, admit: bool) -> list[tuple]:
    """Per table: the ``_N`` largest ``metric`` values, ties on
    partition_key ascending, partitions with a zero metric left out when
    ``admit`` is set."""
    rows = []
    for (ks, tb), parts in per_table.items():
        ranked = sorted(
            ((pk, m[metric]) for pk, m in parts.items()
             if not admit or m[metric] > 0),
            key=lambda kv: (-kv[1], kv[0]),
        )
        rows += [(ks, tb, pk, v, i + 1)
                 for i, (pk, v) in enumerate(ranked[:_N])]
    return rows


def _model(spark, root) -> tuple[dict, dict]:
    """{(keyspace, table): {partition_key: metrics}} twice: the counters
    of the partitions that have decoded records, and the Index.db sizes
    of every partition."""
    cols = {c: i for i, c in enumerate(_COLS)}
    counted: dict = defaultdict(lambda: defaultdict(lambda: {
        "cells": 0, "tombstones": 0, "row_deletes": 0, "sstables": set(),
    }))
    for r in data_cells(spark, root).collect():
        m = counted[r[cols["keyspace"]], r[cols["table_name"]]][
            r[cols["partition_key"]]]
        m["sstables"].add(r[cols["sstable_id"]])
        m["cells"] += r[cols["kind"]] in ("CELL", "STATIC_CELL")
        m["tombstones"] += bool(r[cols["is_tombstone"]])
        m["row_deletes"] += r[cols["kind"]] == "ROW_DELETE"
    for parts in counted.values():
        for m in parts.values():
            m["tables"] = len(m.pop("sstables"))
    sized: dict = defaultdict(lambda: defaultdict(lambda: {"size": 0}))
    for r in dir_partition_sizes(spark, root).collect():
        sized[r["keyspace"], r["table_name"]][r["partition_key"]]["size"] += (
            r["size"]
        )
    return counted, sized


def _expected(counted: dict, sized: dict) -> str:
    sections = [
        ("Largest partitions", sized, "size", False, {"size": "bytes"}),
        ("Widest partitions", counted, "cells", False, None),
        ("Most tombstones", counted, "tombstones", True, None),
        ("Most deleted rows", counted, "row_deletes", True, None),
        ("In most sstables", counted, "tables", False, None),
    ]
    return "".join(
        f"{title}\n" + _render_rows(
            ["keyspace", "table_name", "partition_key", metric, "rank"],
            _top(source, metric, admit), fmts, order=_RANK,
        ) + "\n"
        for title, source, metric, admit, fmts in sections
    )


def test_directory_rankings_match_python(spark, tree_root):
    report = _report(spark, tree_root)
    counted, sized = _model(spark, tree_root)
    assert report[report.index("Largest partitions\n"):] == _expected(
        counted, sized
    )
    # the tree reaches each case the rankings must get right: index
    # entries without records, ties past the cut-off, and partitions kept
    # out by the admission filter
    hollow = ("ks3", "hollow")
    assert set(sized[hollow]) == {"h1", "h2", "h3"}
    assert set(counted[hollow]) == {"h1"}
    ties = sized["ks1", "ties"]
    assert ties["kd"] == ties["ke"] == ties["kf"]
    assert {m["tables"] for m in counted["ks1", "del"].values()} == {1, 2}
    assert sum(m["tables"] == 2 for m in counted["ks1", "del"].values()) > _N
    dels = counted["ks1", "del"].values()
    assert 0 < sum(m["tombstones"] > 0 for m in dels) < len(dels)
    assert 0 < sum(m["row_deletes"] > 0 for m in dels) < len(dels)


@pytest.mark.parametrize("tree", ["fixture", "edge"])
@pytest.mark.parametrize("path", [
    "rows",
    pytest.param("c_batches", marks=pytest.mark.skipif(
        not cellwalk.available(), reason="C kernel unavailable (no gcc)")),
])
def test_decoded_classification_is_never_null(spark, sf_dir, tree_root,
                                              tree, path):
    root = (materialize_index_files(spark, sf_dir) if tree == "fixture"
            else tree_root)
    ssts = live_sstables("test", root, None,
                         ("Index.db", "Data.db", "Statistics.db"))
    at = {c: _COLS.index(c) for c in (*_FLAG_COLS, "local_deletion_time")}
    n_rows = 0
    for sst in ssts:
        if path == "rows":
            rows = scan_sstable_cell_rows(sst)
        else:
            batches = list(scan_sstable_cell_batches(sst))
            for b in batches:
                for c in _FLAG_COLS:
                    assert b.column(c).null_count == 0, (sst, c)
            rows = [tuple(r.values()) for b in batches for r in b.to_pylist()]
        n_rows += len(rows)
        for r in rows:
            assert None not in (r[at[c]] for c in _FLAG_COLS), r
            assert not r[at["is_expiring"]] or (
                r[at["local_deletion_time"]] is not None), r
    assert n_rows > 0


def test_flags_coalesce_null_classification(spark):
    from cassandra_sstable_tools_spark.queries.cfstats import _flags

    frame = spark.createDataFrame(
        [
            ("CELL", None, None, None, None),
            ("CELL", True, None, None, 5),
            ("CELL", False, True, None, None),
        ],
        "kind string, is_tombstone boolean, is_expiring boolean, "
        "is_counter boolean, local_deletion_time bigint",
    ).selectExpr("*", "'s' AS sstable_id", "'k' AS partition_key",
                 "'c' AS clustering")
    flags = ["f_tomb", "f_droppable", "f_live", "f_expiring", "f_counter"]
    got = [tuple(r) for r in _flags(frame).select(*flags).collect()]
    assert got == [(0, 0, 0, 0, 0), (1, 1, 0, 0, 0), (0, 0, 0, 1, 0)]
