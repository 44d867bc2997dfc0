"""The directory ``purge``: one k-way merge pass per table and key range
(sources/merge_scan.py), with the purge run inside the task.

- Its per-partition rows equal ``purge_stats`` over the decoded DataFrame
  (the oracle) on the fixture tree, on an edge tree with every delete
  kind, and on a Murmur3 tree; the CLI prints what the DataFrame report
  prints, with ``-f`` and with ``--table`` alone too.
- The output does not depend on how each table is cut into key ranges.
- A corrupt Index.db fails the pass, naming the file; so does every
  other reader of Index.db positions (sizes, cell scans, the V2 source,
  the CLI reports).
- The directory ``pstats`` runs on the same work units: its sections
  equal Spark's composition over the Index.db sizes however the table is
  cut, and a table of an unsupported partitioner stays one uncut unit.
"""

from __future__ import annotations

import contextlib
import glob
import io
import os
import shutil

import pytest

from cassandra_sstable_tools_spark.__main__ import main
from cassandra_sstable_tools_spark.constants import GC_BEFORE
from cassandra_sstable_tools_spark.sources import merge_scan
from cassandra_sstable_tools_spark.sources.data_cells import (
    data_cells,
    dir_partition_sizes,
)
from cassandra_sstable_tools_spark.sources.inventory import sstable_inventory
from cassandra_sstable_tools_spark.sources.sstable_binary import (
    binary_index_sizes,
    materialize_index_files,
)

_LONG = "org.apache.cassandra.db.marshal.LongType"
_MAP = (
    "org.apache.cassandra.db.marshal.MapType("
    "org.apache.cassandra.db.marshal.Int32Type,"
    "org.apache.cassandra.db.marshal.LongType)"
)
_OLD, _NEW = GC_BEFORE - 10_000, GC_BEFORE + 10_000  # purgeable / kept ldt
_ROW = ["keyspace", "table_name", "partition_key", "tables", "pre_size",
        "merged_size", "reclaimable"]


def _cli(spark, argv) -> tuple[int, str, str]:
    out, err = io.StringIO(), io.StringIO()
    with contextlib.redirect_stdout(out), contextlib.redirect_stderr(err):
        rc = main([*argv, "-b"], spark=spark)
    return rc, out.getvalue(), err.getvalue()


def _rec(pk, kind="CELL", clustering="r0", column="c0", wt=1000, **kw):
    rec = dict(
        partition_key=pk, kind=kind, clustering=clustering,
        column_name=column, cell_path=None, writetime=wt, ttl=None,
        local_deletion_time=None, is_tombstone=False, is_expiring=False,
        is_counter=False, cell_value=None, range_start=None, range_end=None,
        value_len=8, value_bytes=(7).to_bytes(8, "big"), value_marshal=_LONG,
    )
    rec.update(kw)
    return rec


def _delete(pk, kind, wt, ldt, **kw):
    return _rec(pk, kind, wt=wt, local_deletion_time=ldt,
                **{"column": None, "is_tombstone": True, "value_len": None,
                   "value_bytes": None, "value_marshal": None, **kw})


def _edge_tree(root: str) -> str:
    """ks1/del, three sstables (the second LZ4) sharing keys:
    - a: an LWW overwrite, a row delete, map cells under a complex delete;
    - b: a purgeable partition delete over older cells, a newer cell;
    - c: expiring and tombstone cells on both sides of gc_before;
    - d: two adjacent range tombstones, one purgeable (boundary remnant);
    - e: an older purgeable header-only partition delete next to cells;
    - f, g: partitions that are only a header partition delete (NULL
      sizes), one kept and one purgeable.
    ks1/nostats: two sstables, one without Statistics.db."""
    from cassandra_sstable_tools_spark.sources.pyds_writer import write_sstable

    def write(table, sid, rows, **kw):
        write_sstable(rows, f"{root}/{table}", sstable_id=sid, **kw)

    def m0(pk, path, wt):
        return _rec(pk, column="m0", cell_path=path, wt=wt,
                    value_marshal=_MAP)

    write("ks1/del", "1", [
        *(_rec("a", clustering=f"r{i}") for i in range(4)),
        m0("a", "1", 1000), m0("a", "2", 1000),
        *(_rec("b", clustering=f"r{i}") for i in range(3)),
        _rec("c", clustering="r0"),
        _rec("c", clustering="r1", ttl=100, local_deletion_time=_OLD,
             is_expiring=True),
        _rec("c", clustering="r2", is_tombstone=True,
             local_deletion_time=_OLD, value_len=None, value_bytes=None),
        _rec("c", clustering="r3", is_tombstone=True,
             local_deletion_time=_NEW, value_len=None, value_bytes=None),
        *(_rec("d", clustering=f"r{i}") for i in range(6)),
        _rec("e"),
    ])
    write("ks1/del", "2", [
        _rec("a", wt=2000),
        _delete("a", "ROW_DELETE", 1500, _NEW, clustering="r1"),
        _delete("a", "COMPLEX_DELETE", 1500, _OLD, clustering="r0",
                column="m0", value_marshal=_MAP),
        m0("a", "3", 1600),
        _delete("b", "PARTITION_DELETE", 1500, _OLD, clustering=None),
        _rec("b", clustering="r2", wt=3000),
        _delete("d", "RANGE_TOMBSTONE_MARKER", 1500, _OLD, clustering=None,
                range_start="r1", range_end="r3"),
        _delete("d", "RANGE_TOMBSTONE_MARKER", 1500, _NEW, clustering=None,
                range_start="r3", range_end="r5"),
        _delete("f", "PARTITION_DELETE", 1500, _NEW, clustering=None),
    ], compression="lz4")
    write("ks1/del", "3", [
        _delete("e", "PARTITION_DELETE", 500, _OLD, clustering=None),
        _delete("g", "PARTITION_DELETE", 1500, _OLD, clustering=None),
        _rec("c", clustering="r0", wt=900),
    ])
    write("ks1/nostats", "1", [_rec(k, clustering=f"r{i}")
                               for k in ("n1", "n2") for i in range(2)])
    write("ks1/nostats", "2", [_rec("n2", wt=2000)])
    (stats,) = glob.glob(f"{root}/ks1/nostats/*-2-*-Statistics.db")
    os.remove(stats)
    return root


def _wide_tree(root: str) -> str:
    """One table of three sstables over the same 1,500 partitions, ~1.3 MB
    of Data.db each: overwrites won by either side, row deletes on both
    sides of gc_before, partition deletes."""
    from cassandra_sstable_tools_spark.sources.pyds_writer import write_sstable

    keys = [f"w{k:05d}" for k in range(1500)]

    def cells(wt):
        return [_rec(k, clustering=f"r{i:02d}", wt=wt(n, i))
                for n, k in enumerate(keys) for i in range(40)]

    write_sstable(cells(lambda n, i: 1000), f"{root}/ks/wide",
                  sstable_id="1")
    write_sstable(
        cells(lambda n, i: 2000 if n % 2 else 500)
        + [_delete(k, "ROW_DELETE", 1500, _OLD if n % 2 else _NEW,
                   clustering="r01") for n, k in enumerate(keys[::3])],
        f"{root}/ks/wide", sstable_id="2", compression="lz4",
    )
    write_sstable(
        cells(lambda n, i: 3000 if i % 3 == 0 else 800)
        + [_delete(k, "PARTITION_DELETE", 900, _OLD, clustering=None)
           for k in keys[::5]],
        f"{root}/ks/wide", sstable_id="3",
    )
    return root


@pytest.fixture(scope="module")
def edge_root(tmp_path_factory):
    return _edge_tree(str(tmp_path_factory.mktemp("purge_edge") / "data"))


@pytest.fixture(scope="module")
def murmur3_root(tmp_path_factory):
    from test_lookup import _plant_sstable

    root = tmp_path_factory.mktemp("purge_m3")
    for sub, deleted in (("a", b"k03"), ("b", b"k07")):
        (root / sub).mkdir()
        _plant_sstable(root / sub,
                       "org.apache.cassandra.dht.Murmur3Partitioner",
                       deleted_key=deleted)
    return str(root)


def _oracle_frame(spark, root, names=None):
    from cassandra_sstable_tools_spark.operators.purge import purge_stats
    from cassandra_sstable_tools_spark.sources.data_cells import (
        _decoded_purge_cells,
        _pk_partitioned,
    )

    return purge_stats(_pk_partitioned(
        _decoded_purge_cells(spark, root, names)
    ))


def _oracle_report(per_part, n: int = 10) -> str:
    """The report the DataFrame composition prints: Spark's groupBy totals
    and its row_number top-N, rendered the way the CLI renders."""
    from pyspark.sql import functions as F

    from cassandra_sstable_tools_spark.__main__ import _render
    from cassandra_sstable_tools_spark.operators.topn import top_n_per_group

    totals = per_part.groupBy("keyspace", "table_name").agg(
        F.count(F.lit(1)).alias("partitions"),
        F.sum("pre_size").alias("total_size"),
        F.sum("merged_size").alias("total_merged"),
        F.sum("reclaimable").alias("total_reclaimable"),
    )
    top = top_n_per_group(
        per_part, ["keyspace", "table_name"],
        [F.desc("reclaimable"), F.desc("pre_size"), F.asc("partition_key")],
        n,
    ).select(*_ROW, "rank")
    return "".join(f"{title}\n{table}\n" for title, table in (
        ("Purge totals", _render(
            totals, {"total_size": "bytes", "total_merged": "bytes",
                     "total_reclaimable": "bytes"},
            order=["keyspace", "table_name"])),
        ("Top reclaimable partitions", _render(
            top, {"pre_size": "bytes", "merged_size": "bytes",
                  "reclaimable": "bytes"},
            order=["keyspace", "table_name", "rank"])),
    ))


def _pass_rows(spark, root, names=None) -> list[tuple]:
    return sorted(
        merge_scan.purge_partitions(spark, sstable_inventory(root, names))
        .collect(), key=repr,
    )


def _oracle_rows(frame) -> list[tuple]:
    return sorted((tuple(r[c] for c in _ROW) for r in frame.collect()),
                  key=repr)


@pytest.mark.parametrize("tree", ["fixture", "edge", "murmur3"])
def test_pass_rows_and_report_match_dataframe(
    spark, sf_dir, edge_root, murmur3_root, tree
):
    root = {
        "fixture": lambda: materialize_index_files(spark, sf_dir),
        "edge": lambda: edge_root,
        "murmur3": lambda: murmur3_root,
    }[tree]()
    frame = _oracle_frame(spark, root)
    want = _oracle_rows(frame)
    assert want and _pass_rows(spark, root) == want
    rc, out, _err = _cli(spark, ["purge", "--cassandra-dir", root])
    assert rc == 0
    assert out == _oracle_report(frame)


def test_edge_tree_cases(spark, edge_root):
    """The edge tree reaches what it was built for: NULL sizes from
    header-only partition deletes, a surviving range-tombstone remnant,
    and the missing-Statistics.db warning with the unchanged text."""
    rows = {r[2]: r for r in _pass_rows(spark, edge_root)}
    assert rows["f"][4:] == (None, None, None)  # kept header delete
    assert rows["g"][4:] == (None, 0, None)  # purged header delete
    assert rows["a"][3] == 2 and rows["e"][3] == 2
    assert rows["d"][6] < rows["d"][4]
    rc, _out, err = _cli(spark, ["purge", "--cassandra-dir", edge_root])
    assert rc == 0
    assert ("warning: 1 of 5 sstables have no Statistics.db and are "
            "omitted from the purge") in err


def test_filenames_and_table_scoping_match_dataframe(spark, sf_dir):
    """``-f`` restricts the pass to the named sstables, and ``--table``
    without ``--keyspace`` prints the DataFrame report of that table."""
    from pyspark.sql import functions as F

    root = materialize_index_files(spark, sf_dir)
    names = [s.data_name for s in sstable_inventory(root)][::2]
    frame = _oracle_frame(spark, root, names)
    assert _pass_rows(spark, root, names) == _oracle_rows(frame)
    rc, out, _ = _cli(
        spark, ["purge", "--cassandra-dir", root, "-f", ",".join(names)]
    )
    assert rc == 0 and out == _oracle_report(frame)

    table = sstable_inventory(root)[0].identity[1]
    rc, out, _ = _cli(
        spark, ["purge", "--cassandra-dir", root, "--table", table]
    )
    assert rc == 0
    assert out == _oracle_report(
        _oracle_frame(spark, root).where(F.col("table_name") == table)
    )


def test_output_does_not_depend_on_the_range_cuts(
    spark, tmp_path, monkeypatch
):
    """With the decode split override at 1 MiB the wide table is cut into
    at least 4 key ranges at sampled Summary.db keys; the partition rows
    and the report are the ones the one-range pass gives, and equal the
    DataFrame oracle."""
    root = _wide_tree(str(tmp_path / "data"))
    ssts = sstable_inventory(root)
    assert len(merge_scan.merge_units(spark, ssts)) == 1
    one = _pass_rows(spark, root)
    _, one_out, _ = _cli(spark, ["purge", "--cassandra-dir", root])

    monkeypatch.setenv("SPARK_GRAFT_DECODE_SPLIT_BYTES", str(1 << 20))
    units = merge_scan.merge_units(spark, ssts)
    assert len(units) >= 4
    cuts = [u[1] for u in units[1:]]
    assert cuts == sorted(cuts) and len(set(cuts)) == len(cuts)
    assert _pass_rows(spark, root) == one
    rc, out, _ = _cli(spark, ["purge", "--cassandra-dir", root])
    assert rc == 0 and out == one_out
    assert one == _oracle_rows(_oracle_frame(spark, root))


def test_mixed_partitioners_are_refused(spark, murmur3_root, tmp_path):
    from test_lookup import _plant_sstable

    root = tmp_path / "mixed"
    shutil.copytree(murmur3_root, root)
    (root / "c").mkdir()
    _plant_sstable(root / "c",
                   "org.apache.cassandra.dht.ByteOrderedPartitioner")
    with pytest.raises(Exception, match="declare different partitioners"):
        merge_scan.purge_partitions(spark, sstable_inventory(str(root))) \
            .collect()


def _swapped_positions(edge_root: str, tmp_path) -> tuple[str, str]:
    """A copy of ``ks1/del`` whose first sstable has the Data.db positions
    of two adjacent Index.db entries swapped, at a shard boundary: the
    entry that opens the second of two summary-seek shards now points
    below the one before it, so it decreases as the entry that closes
    the first shard. ``(root, Index.db path)``."""
    from cassandra_sstable_tools_spark.sources.sstable_binary import (
        encode_index_db,
        index_offsets,
        parse_index_db,
    )
    from cassandra_sstable_tools_spark.sources.summary_db import (
        encode_summary_db,
    )

    root = str(tmp_path / "data")
    shutil.copytree(f"{edge_root}/ks1/del", f"{root}/ks1/del")
    base = f"{root}/ks1/del/nb-1-big-"
    with open(base + "Index.db", "rb") as f:
        entries = parse_index_db(f.read(), version="nb")
    # the summary samples every 4th entry; shard 2 of 2 opens at the
    # middle sample
    opens = (-(-len(entries) // 4) // 2) * 4
    assert 0 < opens < len(entries)
    (ka, pa), (kb, pb) = entries[opens - 1], entries[opens]
    entries[opens - 1], entries[opens] = (ka, pb), (kb, pa)
    with open(base + "Index.db", "wb") as f:
        f.write(encode_index_db(entries))
    with open(base + "Summary.db", "wb") as f:
        f.write(encode_summary_db(
            [(k, o) for (k, _), o in zip(entries, index_offsets(entries))]
        ))
    return root, base + "Index.db"


def test_corrupt_index_is_loud(spark, edge_root, tmp_path):
    """Swap the Data.db positions of two adjacent Index.db entries: the
    pass refuses the index, naming it, instead of merging misread
    partitions."""
    root, index = _swapped_positions(edge_root, tmp_path)
    with pytest.raises(Exception, match="corrupt Index.db ") as err:
        merge_scan.purge_partitions(spark, sstable_inventory(root)).collect()
    assert index in str(err.value)


def test_pstats_corrupt_index_is_loud(spark, edge_root, tmp_path):
    """The ``pstats`` walk refuses the same index, naming it, instead of
    reporting sizes from its re-sorted positions."""
    from cassandra_sstable_tools_spark.sources.sstable_binary import (
        pstats_report,
    )

    root, index = _swapped_positions(edge_root, tmp_path)
    with pytest.raises(Exception, match="corrupt Index.db ") as err:
        pstats_report(spark, root)
    assert index in str(err.value)


def _v2_read(spark, root) -> list:
    from cassandra_sstable_tools_spark.sources.pyds import register

    register(spark)
    return spark.read.format("cassandra-sstable").load(root).collect()


# every reader that turns Index.db positions into sizes or extents; the
# CLI cases raise out of ``main``, which exits the command non-zero
_POSITION_CONSUMERS = {
    "binary_index_sizes":
        lambda spark, root: binary_index_sizes(spark, root).collect(),
    "dir_partition_sizes":
        lambda spark, root: dir_partition_sizes(spark, root).collect(),
    "data_cells-1-shard": lambda spark, root: data_cells(
        spark, root, shards_per_sstable=1
    ).collect(),
    "data_cells-2-shards": lambda spark, root: data_cells(
        spark, root, shards_per_sstable=2
    ).collect(),
    "spark.read": _v2_read,
    "cli-pstats-approx": lambda spark, root: _cli(
        spark, ["pstats", "--cassandra-dir", root, "--approx"]
    ),
    "cli-cfstats": lambda spark, root: _cli(
        spark, ["cfstats", "--cassandra-dir", root]
    ),
}


@pytest.mark.parametrize("consumer", list(_POSITION_CONSUMERS))
def test_every_position_consumer_refuses_a_swapped_index(
    spark, edge_root, tmp_path, consumer
):
    """The swap at the shard boundary is refused, naming the Index.db, by
    every reader of positions: none re-sorts them, and none drops the
    partition whose extent the closing entry would end below its start."""
    root, index = _swapped_positions(edge_root, tmp_path)
    with pytest.raises(Exception, match="corrupt Index.db ") as err:
        _POSITION_CONSUMERS[consumer](spark, root)
    assert index in str(err.value)


def _pstats_spark(spark, root, n: int = 10) -> list:
    """``pstats`` sections of Spark's collate + percentile + row_number
    composition over the Index.db sizes frame."""
    from cassandra_sstable_tools_spark.queries import pstats as m

    c = m.collate_sizes(binary_index_sizes(spark, root))
    return [
        (df.columns, sorted((tuple(r) for r in df.collect()), key=repr))
        for df in (
            m.summary_from_collated(c), m.top_size_from_collated(c, n),
            m.top_tables_from_collated(c, n),
        )
    ]


def _pstats_pass(spark, root, n: int = 10) -> list:
    from cassandra_sstable_tools_spark.sources.inventory import ddl_columns
    from cassandra_sstable_tools_spark.sources.sstable_binary import (
        pstats_report,
    )

    return [
        (ddl_columns(ddl), sorted(rows, key=repr))
        for ddl, rows in pstats_report(spark, root, n=n)
    ]


def test_pstats_does_not_depend_on_the_range_cuts(
    spark, tmp_path, monkeypatch
):
    """``pstats`` over the wide table cut into at least 4 key ranges
    equals the one-range pass and Spark's composition."""
    root = _wide_tree(str(tmp_path / "data"))
    ssts = sstable_inventory(root)
    assert len(merge_scan.merge_units(spark, ssts, {"Index.db"})) == 1
    one = _pstats_pass(spark, root)

    monkeypatch.setenv("SPARK_GRAFT_DECODE_SPLIT_BYTES", str(1 << 20))
    assert len(merge_scan.merge_units(spark, ssts, {"Index.db"})) >= 4
    assert _pstats_pass(spark, root) == one
    assert one == _pstats_spark(spark, root)
    assert one[0][1][0][2] == 1500  # every key, collated once


def test_pstats_keeps_an_unsupported_partitioner_uncut(
    spark, tmp_path, monkeypatch
):
    """A table whose sstables declare RandomPartitioner (which
    ``key_decorator`` cannot order) is one uncut unit even when its bytes
    ask for several ranges, and its report equals Spark's composition."""
    from test_lookup import _plant_sstable

    for sub, keys in (("a", range(0, 12)), ("b", range(6, 18))):
        (tmp_path / sub).mkdir()
        _plant_sstable(
            tmp_path / sub, "org.apache.cassandra.dht.RandomPartitioner",
            order_partitioner="org.apache.cassandra.dht.Murmur3Partitioner",
            keys=[b"k%02d" % i for i in keys],
        )
    for data in glob.glob(f"{tmp_path}/**/*-Data.db", recursive=True):
        os.truncate(data, 3 << 20)  # 3 MiB: a tail partition of zeros
    monkeypatch.setenv("SPARK_GRAFT_DECODE_SPLIT_BYTES", str(1 << 20))
    root = str(tmp_path)
    units = merge_scan.merge_units(spark, sstable_inventory(root),
                                   {"Index.db"})
    assert [(len(g), lo, hi) for g, lo, hi in units] == [(2, None, None)]
    got = _pstats_pass(spark, root)
    assert got == _pstats_spark(spark, root)
    assert got[0][1][0][2] == 18


def test_units_are_apportioned_by_bytes():
    """``max(#tables, ceil(total / target))`` ranges, at least one per
    table, each further range to the table with the most bytes per
    range."""
    assert merge_scan._apportion([50, 30, 20], 3) == [1, 1, 1]
    assert merge_scan._apportion([50, 30, 20], 4) == [2, 1, 1]
    assert merge_scan._apportion([50, 30, 20], 6) == [3, 2, 1]
    assert merge_scan._apportion([0, 10], 5) == [1, 4]
