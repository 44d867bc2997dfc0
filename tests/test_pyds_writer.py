"""The sstable sink (sources/pyds_writer.py): written trees decode back
to the input frame, pass every component-integrity check the engine has,
and serve point reads -- a written sstable is indistinguishable from a
planted one."""

from __future__ import annotations

import glob
import os

import pandas as pd
import pytest
from pyspark.sql import functions as F

from cassandra_sstable_tools_spark.sources.data_cells import data_cells
from cassandra_sstable_tools_spark.sources.pyds import register
from cassandra_sstable_tools_spark.sources.pyds_writer import (
    SSTableWriter,
    write_sstable,
)
from cassandra_sstable_tools_spark.sources.sstable_binary import (
    materialize_index_files,
)

_IDENT = ["keyspace", "table_name", "sstable_id"]


@pytest.fixture(scope="module")
def cass_root(spark, sf_dir):
    return materialize_index_files(spark, sf_dir)


@pytest.fixture(scope="module")
def registered(spark):
    register(spark)
    return spark


def _norm(pdf: pd.DataFrame) -> pd.DataFrame:
    return pdf.sort_values(by=list(pdf.columns)).reset_index(drop=True)


def _write(df, out, partitions=None, by_range=True, **opts):
    if partitions:
        df = (
            df.repartitionByRange(partitions, "partition_key")
            if by_range
            else df.repartition(partitions)
        )
    w = (
        df.write.format("cassandra-sstable")
        .option("keyspace", opts.pop("keyspace", "wks"))
        .option("table", opts.pop("table", "wtb"))
        .mode("append")
    )
    for k, v in opts.items():
        w = w.option(k, v)
    w.save(out)


def test_single_sstable_round_trip_is_exact(registered, cass_root, tmp_path):
    """ONE source sstable written as one new sstable: every decoded
    record round-trips exactly. phys_size compares on null-pattern only:
    the rewritten header declares the MINIMAL inferred column set, so the
    per-row column-subset bitmap can be narrower than the source schema's
    -- a ±1-byte span difference that is a property of the (valid)
    re-encoding, not of the records."""
    src_all = data_cells(registered, cass_root)
    one = src_all.select("sstable_id").distinct().orderBy("sstable_id")
    sid = one.collect()[0].sstable_id
    src = src_all.where(F.col("sstable_id") == sid).drop(*_IDENT)
    out = str(tmp_path / "out")
    _write(src.coalesce(1), out)
    back = data_cells(registered, out).drop(*_IDENT)
    a, b = _norm(src.toPandas()), _norm(back.toPandas())
    pd.testing.assert_series_equal(
        a["phys_size"].isna(), b["phys_size"].isna()
    )
    pd.testing.assert_frame_equal(
        a.drop(columns=["phys_size"]), b.drop(columns=["phys_size"])
    )


def test_multi_sstable_write_collapses_partition_deletes(
    registered, cass_root, tmp_path
):
    """Merging several source sstables into range-partitioned new ones:
    everything round-trips except that a partition's MANY
    PARTITION_DELETE records (one per source sstable) collapse to the
    single strongest header deletion -- exactly Cassandra's one-deletion-
    per-partition-per-sstable invariant."""
    src = data_cells(registered, cass_root).drop(*_IDENT, "phys_size")
    out = str(tmp_path / "out")
    _write(src, out, partitions=3)
    back = data_cells(registered, out).drop(*_IDENT, "phys_size")

    deletes = src.where(F.col("kind") == "PARTITION_DELETE")
    expected_deletes = deletes.groupBy(
        "partition_key", "kind", "clustering", "column_name", "cell_path",
        "ttl", "is_tombstone", "is_expiring", "is_counter", "cell_value",
        "range_start", "range_end", "value_len",
    ).agg(
        F.max("writetime").alias("writetime"),
        F.max("local_deletion_time").alias("local_deletion_time"),
    ).select(*src.columns)
    expected = src.where(F.col("kind") != "PARTITION_DELETE").unionByName(
        expected_deletes
    )
    pd.testing.assert_frame_equal(
        _norm(expected.toPandas()), _norm(back.toPandas())
    )
    assert (
        data_cells(registered, out).select("sstable_id").distinct().count()
        == 3
    )


def test_written_tree_passes_every_component_check(
    registered, cass_root, tmp_path
):
    from cassandra_sstable_tools_spark.sources.bloom import bloom_checks
    from cassandra_sstable_tools_spark.sources.crc_db import crc_checks
    from cassandra_sstable_tools_spark.sources.data_db import digest_checks
    from cassandra_sstable_tools_spark.sources.lookup import summary_checks
    from cassandra_sstable_tools_spark.sources.sstable_binary import (
        toc_checks,
    )

    src = data_cells(registered, cass_root).drop(*_IDENT, "phys_size")
    out = str(tmp_path / "out")
    _write(src, out, partitions=2)

    toc = toc_checks(registered, out).toPandas()
    assert len(toc) == 2 and bool(toc["complete"].all())
    assert int(toc["missing"].sum()) == 0 and int(toc["extra"].sum()) == 0
    dig = digest_checks(registered, out).toPandas()
    assert len(dig) == 2 and bool(dig["digest_ok"].all())
    crc = crc_checks(registered, out).toPandas()
    assert len(crc) == 2 and bool(crc["crc_ok"].all())
    summ = summary_checks(registered, out).toPandas()
    assert len(summ) == 2 and bool(summ["all_verified"].all())
    blooms = bloom_checks(registered, out).toPandas()
    assert len(blooms) == 2 and bool(blooms["all_present"].all())


def test_point_read_and_range_scan_on_written_tree(
    registered, cass_root, tmp_path
):
    from cassandra_sstable_tools_spark.sources.lookup import (
        partition_lookup,
        partition_range_scan,
    )

    src = data_cells(registered, cass_root).drop(*_IDENT, "phys_size")
    out = str(tmp_path / "out")
    _write(src, out, partitions=2)
    back = data_cells(registered, out)

    keys = sorted(
        r.partition_key
        for r in back.select("partition_key").distinct().limit(50).collect()
    )
    hit = partition_lookup(registered, out, [keys[0]]).toPandas()
    exp = (
        back.where(F.col("partition_key") == keys[0])
        .select(*hit.columns)
        .toPandas()
    )
    pd.testing.assert_frame_equal(_norm(hit), _norm(exp))
    assert (
        partition_lookup(registered, out, ["no_such_key_xyz"]).count() == 0
    )
    # written files declare ByteOrderedPartitioner -> raw-key ranges scan
    rng = partition_range_scan(
        registered, out, keys[0], keys[3]
    ).toPandas()
    exp_rng = (
        back.where(F.col("partition_key").between(keys[0], keys[3]))
        .select(*rng.columns)
        .toPandas()
    )
    pd.testing.assert_frame_equal(_norm(rng), _norm(exp_rng))


def test_datasource_reader_reads_back_written_tree(
    registered, cass_root, tmp_path
):
    """Full loop through the FORMAT both ways: read with the DataSource,
    write with the DataSource, read again."""
    out = str(tmp_path / "out")
    src = (
        registered.read.format("cassandra-sstable").load(cass_root)
        .drop(*_IDENT, "phys_size")
    )
    _write(src, out, partitions=2)
    back = (
        registered.read.format("cassandra-sstable").load(out)
        .drop(*_IDENT, "phys_size")
    )
    assert back.count() == data_cells(registered, out).count() > 0


def test_two_appends_coexist(registered, cass_root, tmp_path):
    src = data_cells(registered, cass_root).drop(*_IDENT, "phys_size")
    one = src.limit(200).cache()
    out = str(tmp_path / "out")
    _write(one.coalesce(1), out)
    _write(one.coalesce(1), out)
    back = data_cells(registered, out)
    assert back.select("sstable_id").distinct().count() == 2
    files = glob.glob(f"{out}/wks/wtb/*-Data.db")
    assert len(files) == 2
    one.unpersist()


def test_empty_partitions_write_nothing(registered, cass_root, tmp_path):
    src = data_cells(registered, cass_root).drop(*_IDENT, "phys_size")
    out = str(tmp_path / "out")
    _write(src.limit(10), out, partitions=8, by_range=False)
    n_files = len(glob.glob(f"{out}/wks/wtb/*-Data.db"))
    assert 1 <= n_files <= 8
    assert data_cells(registered, out).count() > 0


def test_typed_keys_write_and_render_back(registered, tmp_path):
    """LongType partition keys: the written header declares the
    validator, so the decode renders '302' back -- and the writer's
    round-trip guard accepts the typed literals."""
    pdf = pd.DataFrame(
        {
            "partition_key": [str(300 + i) for i in range(6)],
            "kind": ["CELL"] * 6,
            "clustering": [f"r{i}" for i in range(6)],
            "column_name": ["c0"] * 6,
            "cell_path": [None] * 6,
            "writetime": [1000 + i for i in range(6)],
            "ttl": pd.array([None] * 6, dtype="Int32"),
            "local_deletion_time": pd.array([None] * 6, dtype="Int64"),
            "is_tombstone": [False] * 6,
            "is_expiring": [False] * 6,
            "is_counter": [False] * 6,
            "cell_value": pd.array([10 * i for i in range(6)], dtype="Int64"),
            "range_start": [None] * 6,
            "range_end": [None] * 6,
        }
    )
    df = registered.createDataFrame(pdf)
    out = str(tmp_path / "out")
    _write(df.coalesce(1), out, key_type="long")
    back = data_cells(registered, out)
    assert sorted(
        r.partition_key for r in back.select("partition_key").collect()
    ) == sorted(str(300 + i) for i in range(6))

    # the same frame WITHOUT key_type still writes (text keys) -- but a
    # mismatched explicit type that cannot re-render fails loud
    with pytest.raises(Exception, match="round-trip"):
        _write(
            df.withColumn(
                "partition_key", F.concat(F.lit("k"), "partition_key")
            ).coalesce(1),
            str(tmp_path / "out2"),
            key_type="long",
        )


def test_writer_option_validation(tmp_path):
    with pytest.raises(ValueError, match="append-only"):
        SSTableWriter({"path": str(tmp_path)}, overwrite=True)
    with pytest.raises(ValueError, match="needs a path"):
        SSTableWriter({}, overwrite=False)
    # NEITHER keyspace nor table = identity-preserving mode (valid);
    # one without the other is the error
    SSTableWriter({"path": str(tmp_path)}, overwrite=False)
    with pytest.raises(ValueError, match="together"):
        SSTableWriter(
            {"path": str(tmp_path), "keyspace": "a"}, overwrite=False
        )
    with pytest.raises(ValueError, match="cannot be empty or contain"):
        SSTableWriter(
            {"path": str(tmp_path), "keyspace": "a-b", "table": "t"},
            overwrite=False,
        )
    with pytest.raises(ValueError, match="key_type"):
        SSTableWriter(
            {"path": str(tmp_path), "keyspace": "a", "table": "t",
             "key_type": "blob"},
            overwrite=False,
        )


def test_counter_naming_convention_is_loud(tmp_path):
    row = {
        "partition_key": "k", "kind": "CELL", "clustering": "r",
        "column_name": "c9", "cell_path": None, "writetime": 1,
        "ttl": None, "local_deletion_time": None, "is_tombstone": False,
        "is_expiring": False, "is_counter": True, "cell_value": 5,
        "range_start": None, "range_end": None,
    }
    with pytest.raises(ValueError, match="_ctr"):
        write_sstable([row], str(tmp_path), "00001")


def test_unencodable_record_is_loud(tmp_path):
    row = {
        "partition_key": "k", "kind": "CELL", "clustering": "r",
        "column_name": "c0", "cell_path": None, "writetime": None,
        "ttl": None, "local_deletion_time": None, "is_tombstone": False,
        "is_expiring": False, "is_counter": False, "cell_value": 5,
        "range_start": None, "range_end": None,
    }
    with pytest.raises(ValueError, match="not encodable"):
        write_sstable([row], str(tmp_path), "00001")


def test_written_statistics_reflect_the_data(registered, cass_root,
                                             tmp_path):
    """The written Statistics.db carries truthful metadata (real
    timestamps, row/cell counts and exact histograms), not placeholder
    zeros."""
    from cassandra_sstable_tools_spark.sources.statistics_db import (
        parse_statistics_db,
    )

    src = data_cells(registered, cass_root).drop(*_IDENT, "phys_size")
    out = str(tmp_path / "out")
    _write(src, out, partitions=2)
    exp_min = src.where(
        F.col("kind") != "PARTITION_DELETE"
    ).agg(F.min("writetime")).collect()[0][0]
    n_cells = src.where(F.col("kind").isin("CELL", "STATIC_CELL")).count()
    stats = [
        parse_statistics_db(open(p, "rb").read(), version="nb", source=p)
        for p in sorted(glob.glob(f"{out}/wks/wtb/*-Statistics.db"))
    ]
    assert len(stats) == 2
    assert min(s.min_timestamp for s in stats) == int(exp_min)
    assert sum(s.total_columns_set for s in stats) == n_cells
    n_parts = src.select("partition_key").distinct().count()
    assert sum(
        n for s in stats for _v, n in s.partition_size_hist
    ) == n_parts


def test_lz4_compressed_write_round_trips(registered, cass_root, tmp_path):
    """option('compression','lz4'): chunk-compressed Data.db + a
    CompressionInfo chunk map, no CRC.db (chunk CRCs live inline --
    Cassandra's own rule); decodes back identically through the LZ4
    layer, passes TOC/digest checks, and is physically smaller than the
    uncompressed twin."""
    from cassandra_sstable_tools_spark.sources.data_db import digest_checks
    from cassandra_sstable_tools_spark.sources.sstable_binary import (
        toc_checks,
    )

    src = data_cells(registered, cass_root).drop(*_IDENT, "phys_size")
    # ONE materialized range split feeds BOTH writes: two independent
    # repartitionByRange jobs can sample different boundaries, and a key
    # landing in a different output sstable shifts that sstable's
    # EncodingStats min_timestamp -- a delta-vint width (hence re-decoded
    # phys_size) can then differ by 1 between the trees (pre-r10 flake)
    src = src.repartitionByRange(2, "partition_key").localCheckpoint(
        eager=True
    )
    plain = str(tmp_path / "plain")
    comp = str(tmp_path / "comp")
    _write(src, plain)
    _write(src, comp, compression="lz4")

    a = _norm(data_cells(registered, plain).drop(*_IDENT).toPandas())
    b = _norm(data_cells(registered, comp).drop(*_IDENT).toPandas())
    pd.testing.assert_frame_equal(a, b)

    comp_files = sorted(glob.glob(f"{comp}/wks/wtb/*"))
    names = {os.path.basename(p).split("big-")[1] for p in comp_files}
    assert "CompressionInfo.db" in names and "CRC.db" not in names
    plain_bytes = sum(
        os.path.getsize(p) for p in glob.glob(f"{plain}/wks/wtb/*-Data.db")
    )
    comp_bytes = sum(
        os.path.getsize(p) for p in glob.glob(f"{comp}/wks/wtb/*-Data.db")
    )
    assert comp_bytes < plain_bytes
    assert bool(toc_checks(registered, comp).toPandas()["complete"].all())
    assert bool(
        digest_checks(registered, comp).toPandas()["digest_ok"].all()
    )
    # point reads decode through the chunk layer too
    from cassandra_sstable_tools_spark.sources.lookup import (
        partition_lookup,
    )

    key = b.iloc[0]["partition_key"]
    hit = partition_lookup(registered, comp, [key]).toPandas()
    exp = data_cells(registered, comp)
    exp = _norm(
        exp.where(exp.partition_key == key).select(*hit.columns).toPandas()
    )
    pd.testing.assert_frame_equal(_norm(hit), exp)


# -- streaming sink --------------------------------------------------------


_CELLS_NOID_SCHEMA = (
    "partition_key string, kind string, clustering string, "
    "column_name string, cell_path string, writetime bigint, ttl int, "
    "local_deletion_time bigint, is_tombstone boolean, "
    "is_expiring boolean, is_counter boolean, cell_value bigint, "
    "range_start string, range_end string"
)


def _mk_batch(i: int, n: int = 40) -> pd.DataFrame:
    return pd.DataFrame({
        "partition_key": [f"k{i:02d}{j:04d}" for j in range(n)],
        "kind": ["CELL"] * n,
        "clustering": [f"r{j}" for j in range(n)],
        "column_name": ["c0"] * n,
        "cell_path": [None] * n,
        "writetime": pd.array([1000 + j for j in range(n)], dtype="Int64"),
        "ttl": pd.array([None] * n, dtype="Int32"),
        "local_deletion_time": pd.array([None] * n, dtype="Int64"),
        "is_tombstone": [False] * n,
        "is_expiring": [False] * n,
        "is_counter": [False] * n,
        "cell_value": pd.array(list(range(n)), dtype="Int64"),
        "range_start": [None] * n,
        "range_end": [None] * n,
    })


def test_stream_sink_flushes_microbatches_exactly_once(
    registered, tmp_path
):
    """Each micro-batch flushes as sstables with batch-id generations;
    a checkpoint restart replays nothing (same names, same bytes)."""
    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    registered.createDataFrame(_mk_batch(0), _CELLS_NOID_SCHEMA).write.mode(
        "append"
    ).parquet(src)

    def start():
        return (
            registered.readStream.schema(_CELLS_NOID_SCHEMA).parquet(src)
            .writeStream.format("cassandra-sstable")
            .option("keyspace", "sks").option("table", "stb")
            .option("checkpointLocation", ckpt)
            .start(out)
        )

    q = start()
    try:
        q.processAllAvailable()
        assert data_cells(registered, out).count() == 40
        registered.createDataFrame(
            _mk_batch(1), _CELLS_NOID_SCHEMA
        ).write.mode("append").parquet(src)
        q.processAllAvailable()
        assert data_cells(registered, out).count() == 80
    finally:
        q.stop()
    ids = {
        r.sstable_id
        for r in data_cells(registered, out)
        .select("sstable_id").distinct().collect()
    }
    assert all(i.startswith("b00000000000") for i in ids)
    batches = {i.split("p")[0] for i in ids}
    # one generation family per micro-batch; the file source may split
    # an append into several batches, so >= the two appends
    assert len(batches) >= 2

    q2 = start()
    try:
        q2.processAllAvailable()
        assert data_cells(registered, out).count() == 80  # no replay dupes
    finally:
        q2.stop()
    # every written sstable became VISIBLE (its deferred Statistics.db
    # landed at commit) and is fully healthy
    from cassandra_sstable_tools_spark.sources.sstable_binary import (
        toc_checks,
    )

    toc = toc_checks(registered, out).toPandas()
    assert len(toc) == len(ids) and bool(toc["complete"].all())


def test_stream_to_stream_replication_loop(registered, cass_root, tmp_path):
    """The full loop: a cassandra-sstable READ stream tails the source
    tree, a cassandra-sstable WRITE stream (identity-preserving mode)
    flushes what arrives into a replica tree -- and the replica decodes
    to the same records (fresh generations aside). Each read task is one
    source sstable, so even per-partition deletion headers survive
    unchanged (no cross-sstable collapse)."""
    out = str(tmp_path / "replica")
    q = (
        registered.readStream.format("cassandra-sstable").load(cass_root)
        .drop("sstable_id", "phys_size")
        .writeStream.format("cassandra-sstable")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start(out)
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    drop = ["sstable_id", "phys_size"]
    a = _norm(data_cells(registered, cass_root).drop(*drop).toPandas())
    b = _norm(data_cells(registered, out).drop(*drop).toPandas())
    pd.testing.assert_frame_equal(a, b)
    # identity preserved: same keyspace/table directories as the source
    src_tables = {
        (r["keyspace"], r["table_name"])
        for r in __import__(
            "cassandra_sstable_tools_spark.sources.pyds",
            fromlist=["list_sstables"],
        ).list_sstables(cass_root)
    }
    rep_tables = {
        (r["keyspace"], r["table_name"])
        for r in __import__(
            "cassandra_sstable_tools_spark.sources.pyds",
            fromlist=["list_sstables"],
        ).list_sstables(out)
    }
    assert rep_tables == src_tables


def test_stream_sink_rejects_non_append_modes(registered, tmp_path):
    """complete/update output modes would re-flush whole aggregates as
    fresh generations every batch -- refused loudly (review finding: the
    overwrite flag was silently dropped)."""
    src = str(tmp_path / "src")
    registered.createDataFrame(_mk_batch(0), _CELLS_NOID_SCHEMA).write.mode(
        "append"
    ).parquet(src)
    agg = (
        registered.readStream.schema(_CELLS_NOID_SCHEMA).parquet(src)
        .groupBy("kind").count()
    )
    with pytest.raises(Exception, match="APPEND-only|append"):
        (
            agg.writeStream.format("cassandra-sstable")
            .outputMode("complete")
            .option("keyspace", "sks").option("table", "stb")
            .option("checkpointLocation", str(tmp_path / "ck"))
            .start(str(tmp_path / "out"))
        ).processAllAvailable()


def test_identity_preserving_rows_are_validated(tmp_path):
    """Row-carried keyspace/table_name build filesystem paths: traversal
    and filename-grammar violations fail loud (review finding)."""
    from pyspark import TaskContext

    w = SSTableWriter({"path": str(tmp_path)}, overwrite=False)

    def row(ks, tb):
        return {
            "keyspace": ks, "table_name": tb, "partition_key": "k",
            "kind": "ROW_MARKER", "clustering": "r", "column_name": None,
            "cell_path": None, "writetime": 1, "ttl": None,
            "local_deletion_time": None, "is_tombstone": False,
            "is_expiring": False, "is_counter": False, "cell_value": None,
            "range_start": None, "range_end": None,
        }

    class _FakeCtx:
        def partitionId(self):
            return 0

    orig = TaskContext.get
    TaskContext.get = staticmethod(lambda: _FakeCtx())
    try:
        for ks, tb in [("../evil", "t"), ("ks", "a/b"), ("ks", "a-b"),
                       ("..", "t"), ("", "t")]:
            with pytest.raises(ValueError,
                               match="cannot be empty or contain|needs"):
                w.write(iter([row(ks, tb)]))
    finally:
        TaskContext.get = orig


def test_compact_report_honors_scope_and_preexisting_out(
    registered, cass_root, tmp_path
):
    """-f and table scope must bound the report's bytes_in; a second run
    into the same out dir reports only ITS OWN output (review finding:
    the report inventoried the whole source and all pre-existing
    output)."""
    import glob as _glob

    from cassandra_sstable_tools_spark.operators.compaction import (
        compact_dir,
    )
    from cassandra_sstable_tools_spark.sources.pyds import list_sstables

    rows = list_sstables(cass_root)
    tables = sorted({r["table_name"] for r in rows})
    one_table = tables[0]
    out = str(tmp_path / "out")
    rep = compact_dir(
        registered, cass_root, out, table=one_table
    ).toPandas()
    assert list(rep["table_name"]) == [one_table]
    n_src = sum(1 for r in rows if r["table_name"] == one_table)
    assert int(rep["sstables_in"].sum()) == n_src
    written_1 = len(_glob.glob(f"{out}/*/{one_table}/*-Data.db"))
    assert int(rep["sstables_out"].sum()) == written_1
    # only the scoped table was written at all
    assert {
        r["table_name"] for r in list_sstables(out)
    } == {one_table}

    # second scoped run into the SAME out dir: report counts only the
    # new sstables, not the first run's
    rep2 = compact_dir(
        registered, cass_root, out, table=one_table
    ).toPandas()
    assert int(rep2["sstables_out"].sum()) == (
        len(_glob.glob(f"{out}/*/{one_table}/*-Data.db")) - written_1
    )
    assert int(rep2["sstables_out"].sum()) > 0

    # -f scoping bounds bytes_in to the named file(s): -f matches by
    # BASENAME across tables (the reference's semantics), so expect one
    # per table carrying that generation
    one_file = os.path.basename(sorted(
        _glob.glob(f"{cass_root}/*/*/*-Data.db")
    )[0])
    n_named = sum(
        1 for p in _glob.glob(f"{cass_root}/*/*/*-Data.db")
        if os.path.basename(p) == one_file
    )
    rep3 = compact_dir(
        registered, cass_root, str(tmp_path / "out3"),
        filenames=[one_file],
    ).toPandas()
    assert int(rep3["sstables_in"].sum()) == n_named < len(rows)


# --------------------------------------------------------------------------
# Payload safety (r10): arbitrary-length values round-trip byte-exactly
# through value_bytes; the long-only frame REFUSES dropped payloads by name
# --------------------------------------------------------------------------

_UTF8 = "org.apache.cassandra.db.marshal.UTF8Type"
_BYTES = "org.apache.cassandra.db.marshal.BytesType"
_LONG = "org.apache.cassandra.db.marshal.LongType"


def _vrow(pk, col, vb, marshal, wt=1000, clustering="r0", **kw):
    base = dict(
        partition_key=pk, kind="CELL", clustering=clustering,
        column_name=col, cell_path=None, writetime=wt, ttl=None,
        local_deletion_time=None, is_tombstone=False, is_expiring=False,
        is_counter=False, cell_value=None, range_start=None, range_end=None,
        value_len=None if vb is None else len(vb),
        value_bytes=vb, value_marshal=marshal,
    )
    base.update(kw)
    return base


def test_variable_length_payloads_round_trip(registered, tmp_path):
    """UTF8/blob payloads of any length (incl. empty, and >128 bytes --
    multi-byte bodySize vints) write and decode back byte-exactly, with
    the declared marshal types preserved in the written header. The r09
    verdict defect: these payloads used to write as EMPTY silently."""
    from cassandra_sstable_tools_spark.sources.data_cells import (
        scan_sstable_cell_rows,
    )

    big = bytes(range(256)) * 3  # 768 bytes: body >= 128 regime
    rows = [
        _vrow("alpha", "t0", b"hello world", _UTF8),
        _vrow("alpha", "t1", b"", _UTF8, clustering="r1"),
        _vrow("beta", "b0", big, _BYTES),
        _vrow("beta", "t0", "café ☃".encode("utf-8"), _UTF8,
              clustering="r2"),
        # an 8-byte long payload alongside, via the lossless path too
        _vrow("beta", "c0", (12345).to_bytes(8, "big"), _LONG,
              clustering="r3", cell_value=12345),
    ]
    out = str(tmp_path / "vtree")
    write_sstable(rows, f"{out}/ks/tb", sstable_id="1")
    got = scan_sstable_cell_rows(
        f"{out}/ks/tb/nb-1-big-Index.db", with_values=True
    )
    from cassandra_sstable_tools_spark.sources.data_cells import _COLS_VALUES

    byname = {
        (r[_COLS_VALUES.index("partition_key")],
         r[_COLS_VALUES.index("column_name")]): r
        for r in got
    }
    assert len(byname) == 5
    for row in rows:
        r = byname[(row["partition_key"], row["column_name"])]
        assert r[_COLS_VALUES.index("value_bytes")] == row["value_bytes"]
        assert r[_COLS_VALUES.index("value_len")] == len(row["value_bytes"])
        assert r[_COLS_VALUES.index("value_marshal")] == row["value_marshal"]
    # the long payload still renders through cell_value
    assert byname[("beta", "c0")][_COLS_VALUES.index("cell_value")] == 12345


def test_writer_refuses_dropped_payloads_by_name(registered, tmp_path):
    """A frame whose value_len says the payload was NOT an 8-byte long,
    with no value_bytes to carry it, must refuse loudly -- never write an
    EMPTY value silently (r09 verdict What's-wrong #1, fix (b))."""
    row = _vrow("alpha", "t0", None, None)
    row["value_len"] = 5  # payload existed on disk; frame dropped it
    with pytest.raises(ValueError, match="cannot round-trip"):
        write_sstable([row], str(tmp_path / "x/ks/tb"), sstable_id="1")


def test_static_counter_round_trips(registered, tmp_path):
    """Static counters keep their *_ctr name and CounterColumnType across
    a round-trip, and the written tree is RE-writable (r09 advice: the
    asymmetric naming renamed them and made rewrites raise)."""
    from cassandra_sstable_tools_spark.sources.data_cells import (
        _COLS_VALUES,
        scan_sstable_cell_rows,
    )

    row = _vrow("alpha", "s0_ctr", (7).to_bytes(8, "big"),
                "org.apache.cassandra.db.marshal.CounterColumnType",
                clustering=None, cell_value=7)
    row["kind"] = "STATIC_CELL"
    row["is_counter"] = True
    out = str(tmp_path / "ctree")
    write_sstable([row], f"{out}/ks/tb", sstable_id="1")
    got = scan_sstable_cell_rows(
        f"{out}/ks/tb/nb-1-big-Index.db", with_values=True
    )
    assert len(got) == 1
    r = got[0]
    assert r[_COLS_VALUES.index("column_name")] == "s0_ctr"
    assert r[_COLS_VALUES.index("kind")] == "STATIC_CELL"
    assert bool(r[_COLS_VALUES.index("is_counter")]) is True
    # REWRITE the written tree: the old naming asymmetry raised here
    rows2 = [dict(zip(_COLS_VALUES, r)) for r in got]
    write_sstable(rows2, f"{out}2/ks/tb", sstable_id="1")
    got2 = scan_sstable_cell_rows(
        f"{out}2/ks/tb/nb-1-big-Index.db", with_values=True
    )
    assert [x[3:] for x in got2] == [x[3:] for x in got]


def test_typed_clustering_round_trips(registered, tmp_path):
    """clustering_type='long': displays encode through the typed inverse
    (8-byte signed BE on disk), re-render identically, and the header
    declares LongType clustering (r09 verdict #5)."""
    from cassandra_sstable_tools_spark.sources.data_cells import (
        _COLS_VALUES,
        scan_sstable_cell_rows,
    )
    from cassandra_sstable_tools_spark.sources.statistics_db import (
        parse_serialization_header,
    )

    rows = [
        _vrow("alpha", "c0", (1).to_bytes(8, "big"), _LONG,
              clustering="42", cell_value=1),
        _vrow("alpha", "c0", (2).to_bytes(8, "big"), _LONG,
              clustering="-7", cell_value=2, wt=1001),
    ]
    out = str(tmp_path / "ttree")
    write_sstable(rows, f"{out}/ks/tb", sstable_id="1",
                  clustering_type="long")
    with open(f"{out}/ks/tb/nb-1-big-Statistics.db", "rb") as f:
        hdr = parse_serialization_header(f.read(), version="nb",
                                         source="stats")
    assert hdr.clustering_types == [_LONG]
    got = scan_sstable_cell_rows(
        f"{out}/ks/tb/nb-1-big-Index.db", with_values=True
    )
    cl = sorted(r[_COLS_VALUES.index("clustering")] for r in got)
    assert cl == ["-7", "42"]
    # an unparseable display refuses loudly instead of writing garbage
    bad = _vrow("alpha", "c0", None, None, clustering="not-a-long")
    with pytest.raises(ValueError, match="does not parse as LongType"):
        write_sstable([bad], f"{out}b/ks/tb", sstable_id="1",
                      clustering_type="long")


_MAP_INT_LONG = (
    "org.apache.cassandra.db.marshal.MapType("
    "org.apache.cassandra.db.marshal.Int32Type,"
    "org.apache.cassandra.db.marshal.LongType)"
)


def test_typed_cell_paths_round_trip(registered, tmp_path):
    """Complex-column cell paths encode through the column's PATH type
    (a map's key type), not a UTF-8 re-encode of the display -- the
    review-caught corruption wrote 2 bytes under an Int32 path header."""
    from cassandra_sstable_tools_spark.sources.data_cells import (
        _COLS_VALUES,
        scan_sstable_cell_rows,
    )

    rows = [
        _vrow("alpha", "m1", (7).to_bytes(8, "big"), _MAP_INT_LONG,
              cell_path="42", cell_value=7),
        _vrow("alpha", "m1", (9).to_bytes(8, "big"), _MAP_INT_LONG,
              cell_path="-3", cell_value=9, wt=1001),
    ]
    out = str(tmp_path / "ptree")
    write_sstable(rows, f"{out}/ks/tb", sstable_id="1")
    got = scan_sstable_cell_rows(
        f"{out}/ks/tb/nb-1-big-Index.db", with_values=True
    )
    paths = sorted(r[_COLS_VALUES.index("cell_path")] for r in got)
    assert paths == ["-3", "42"]
    # a non-invertible path display refuses loudly, never writes garbage
    bad = _vrow("alpha", "m1", (1).to_bytes(8, "big"), _MAP_INT_LONG,
                cell_path="not-an-int", cell_value=1)
    with pytest.raises(ValueError, match="does not parse as Int32Type"):
        write_sstable([bad], f"{out}b/ks/tb", sstable_id="1")


def test_complex_delete_keeps_declared_column_type(registered, tmp_path):
    """A complex column whose only survivor is its COMPLEX_DELETE keeps
    the SOURCE-declared type in the rewritten header (review finding:
    the map<text,bigint> default silently re-typed it)."""
    from cassandra_sstable_tools_spark.sources.data_cells import (
        _COLS_VALUES,
        scan_sstable_cell_rows,
    )
    from cassandra_sstable_tools_spark.sources.statistics_db import (
        parse_serialization_header,
    )

    cd = _vrow("alpha", "m1", None, _MAP_INT_LONG,
               cell_value=None, is_tombstone=True)
    cd["kind"] = "COMPLEX_DELETE"
    cd["local_deletion_time"] = 1_600_000_000
    out = str(tmp_path / "cdtree")
    write_sstable([cd], f"{out}/ks/tb", sstable_id="1")
    with open(f"{out}/ks/tb/nb-1-big-Statistics.db", "rb") as f:
        hdr = parse_serialization_header(f.read(), version="nb",
                                         source="stats")
    assert dict(hdr.regular_columns)["m1"] == _MAP_INT_LONG
    # and the deletion itself round-trips with its marshal carried
    got = scan_sstable_cell_rows(
        f"{out}/ks/tb/nb-1-big-Index.db", with_values=True
    )
    assert [r[_COLS_VALUES.index("kind")] for r in got] == ["COMPLEX_DELETE"]
    assert got[0][_COLS_VALUES.index("value_marshal")] == _MAP_INT_LONG


def test_encode_prep_memo_is_contents_keyed():
    """The per-header encode tables (_EncPrep) memoize on header CONTENTS,
    not object identity: two equal-content headers share one prep, and a
    MUTATED header (statistics_db mutates fields after construction in
    some paths) gets a fresh prep instead of stale tables."""
    from cassandra_sstable_tools_spark.sources.data_cells import (
        LONG_TYPE,
        _encode_prep,
    )
    from cassandra_sstable_tools_spark.sources.statistics_db import (
        SerializationHeaderInfo,
    )

    def header():
        return SerializationHeaderInfo(
            min_timestamp=5,
            min_local_deletion_time=7,
            min_ttl=0,
            key_type="org.apache.cassandra.db.marshal.UTF8Type",
            clustering_types=["org.apache.cassandra.db.marshal.UTF8Type"],
            static_columns=[("s0", LONG_TYPE)],
            regular_columns=[("v0", LONG_TYPE)],
        )

    h1, h2 = header(), header()
    assert _encode_prep(h1) is _encode_prep(h2)
    h2.min_timestamp = 6  # content change -> new tables
    assert _encode_prep(h2) is not _encode_prep(h1)
    prep = _encode_prep(h1)
    assert prep.reg["v0"][0] == 0 and prep.reg["v0"][1] == LONG_TYPE
    assert prep.reg["v0"][3] == 8  # LongType: fixed 8-byte value
    assert prep.sta["s0"][0] == 0
    assert prep.cl_types_t == ("org.apache.cassandra.db.marshal.UTF8Type",)
def test_encode_memo_ignores_mutation_of_its_seeding_header():
    """A memoized prep must not follow its seeding header object: after
    that header is mutated, a fresh header with the ORIGINAL contents hits
    the same memo entry and must still encode the original bytes --
    EncodingStats deltas and range-tombstone bounds included."""
    from cassandra_sstable_tools_spark.sources import data_cells as dc
    from cassandra_sstable_tools_spark.sources.statistics_db import (
        SerializationHeaderInfo,
    )

    clustering_types, statics, regulars = dc.fixture_header_schema()

    def header():
        return SerializationHeaderInfo(
            min_timestamp=19980401000001,
            min_local_deletion_time=1698986000,
            min_ttl=3600,
            key_type="org.apache.cassandra.db.marshal.UTF8Type",
            clustering_types=list(clustering_types),
            static_columns=list(statics),
            regular_columns=list(regulars),
        )

    recs = [
        dict(kind="CELL", clustering="0007", cell_name="c2", cell_size=1234,
             writetime=19980401000005, ttl=86400,
             local_deletion_time=1699000000, is_tombstone=False,
             is_counter=False, range_start=None, range_end=None,
             partition_key="p"),
        dict(kind="RANGE_TOMBSTONE_MARKER", clustering=None, cell_name=None,
             cell_size=None, writetime=19980601000001, ttl=None,
             local_deletion_time=1698987001, is_tombstone=True,
             is_counter=False, range_start="0001", range_end="0002",
             partition_key="p"),
    ]
    dc._ENC_PREPS.clear()
    seed = header()
    expected = dc.encode_unfiltereds(recs, seed)
    seed.min_timestamp += 1000
    seed.min_local_deletion_time += 1000
    seed.min_ttl += 60
    seed.clustering_types[:] = ["org.apache.cassandra.db.marshal.UTF8Type"]
    fresh = header()
    assert dc._encode_prep(fresh) is dc._encode_prep(header())
    assert dc.encode_unfiltereds(recs, fresh) == expected


