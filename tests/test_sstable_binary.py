"""Binary Index.db source: vint codec, three version regimes, corruption
loudness, and end-to-end identity with the parquet-path index_entries.

The encoder is the in-repo fixture writer; to keep the round-trip honest the
vint tests check EXACT expected byte patterns derived independently from the
public VIntCoding spec (leading-ones count = extra bytes), not just
encode(parse(x)) == x.
"""

from __future__ import annotations

import random

import pytest

from cassandra_sstable_tools_spark.sources.data_cells import data_cells
from cassandra_sstable_tools_spark.sources.lookup import point_read, range_read
from cassandra_sstable_tools_spark.sources.sstable_binary import (
    binary_index_entries,
    encode_index_db,
    index_offsets,
    key_encoder,
    key_renderer,
    materialize_index_files,
    parse_index_db,
    pstats_report,
    read_unsigned_vint,
    render_typed,
    stream_parse_index_db,
    write_unsigned_vint,
)


def test_vint_known_patterns():
    # spec-derived expectations: N leading ones on byte 0 = N extra bytes,
    # value big-endian in the remaining bits
    assert write_unsigned_vint(0) == b"\x00"
    assert write_unsigned_vint(127) == b"\x7f"
    assert write_unsigned_vint(128) == b"\x80\x80"
    assert write_unsigned_vint(16383) == b"\xbf\xff"
    assert write_unsigned_vint(16384) == b"\xc0\x40\x00"
    assert write_unsigned_vint((1 << 21) - 1) == b"\xdf\xff\xff"


def test_vint_roundtrip_fuzz():
    rng = random.Random(0xC0FFEE)
    values = [0, 1, 127, 128, 16383, 16384, (1 << 35) + 12345, (1 << 56) - 1]
    values += [rng.getrandbits(rng.randint(1, 56)) for _ in range(500)]
    buf = b"".join(write_unsigned_vint(v) for v in values)
    off = 0
    for v in values:
        got, off = read_unsigned_vint(buf, off)
        assert got == v
    assert off == len(buf)


@pytest.mark.parametrize("version", ["jb", "ma", "nb"])
def test_encode_parse_roundtrip_all_versions(version):
    rng = random.Random(7)
    entries = []
    pos = 0
    for i in range(200):
        key = bytes(rng.getrandbits(8) for _ in range(rng.randint(1, 40)))
        entries.append((key, pos))
        pos += rng.randint(1, 1 << 20)
    blob = encode_index_db(entries, version=version)
    assert parse_index_db(blob, version=version) == entries
    # promoted-index bytes must actually be present and skipped
    bare = encode_index_db(entries, version=version, promoted=False)
    assert len(blob) > len(bare)
    assert parse_index_db(bare, version=version) == entries


def test_version_regimes_differ_on_wire():
    e = [(b"k1", 300), (b"k2", 70000)]
    jb, ma, nb = (encode_index_db(e, version=v, promoted=False) for v in ("jb", "ma", "nb"))
    # jb: 8-byte position + 4-byte promoted size; ma: 8-byte position + vint
    # size; nb: vint position + vint size
    assert len(jb) > len(ma) > len(nb)
    # cross-version parse must NOT agree (proves the regimes are real)
    assert parse_index_db(jb, version="jb") == e
    with pytest.raises(ValueError):
        parse_index_db(nb, version="jb")


def test_truncated_file_fails_loud():
    blob = encode_index_db([(b"abcdef", 12345)], version="nb")
    with pytest.raises(ValueError, match="corrupt Index.db"):
        parse_index_db(blob[:-3], version="nb")
    with pytest.raises(ValueError, match="corrupt Index.db"):
        parse_index_db(blob + b"\x00\xff", version="nb")  # dangling key stub


def test_binary_entries_match_parquet_path(spark, sf_dir, tmp_path):
    from cassandra_sstable_tools_spark.sources import tpch_adapter

    root = materialize_index_files(spark, sf_dir, root=str(tmp_path / "cas"))
    got = {
        (r.keyspace, r.table_name, r.sstable_id, r.partition_key, r.position)
        for r in binary_index_entries(spark, root).collect()
    }
    exp = {
        (r.keyspace, r.table_name, r.sstable_id, r.partition_key, r.position)
        for r in tpch_adapter.index_entries(spark, sf_dir).collect()
    }
    assert got == exp and len(got) > 0


def test_pstats_summary_binary_equals_parquet(spark, sf_dir):
    from cassandra_sstable_tools_spark.queries.pstats import pstats_summary
    from cassandra_sstable_tools_spark.sources.sstable_binary import (
        pstats_summary_binary,
    )

    key = lambda r: (r.keyspace, r.table_name)
    got = sorted(pstats_summary_binary(spark, sf_dir).collect(), key=key)
    exp = sorted(pstats_summary(spark, sf_dir).collect(), key=key)
    assert [tuple(r) for r in got] == [tuple(r) for r in exp]


def test_materialize_rejects_active_scope(spark, sf_dir, tmp_path):
    from cassandra_sstable_tools_spark.sources.tpch_adapter import table_scope

    with table_scope(table="tab_stcs"):
        with pytest.raises(RuntimeError, match="unscoped"):
            materialize_index_files(spark, sf_dir, root=str(tmp_path / "x"))


def test_data_file_lengths_match_metadata(spark, sf_dir):
    """Sparse Data.db byte lengths must equal the metadata table's
    uncompressed_length exactly -- the directory-only path's tail-closing
    input is the filesystem, and it must be length-faithful."""
    from cassandra_sstable_tools_spark.sources import tpch_adapter
    from cassandra_sstable_tools_spark.sources.sstable_binary import (
        data_file_lengths,
    )

    root = materialize_index_files(spark, sf_dir)
    key = lambda r: (r.keyspace, r.table_name, r.sstable_id)
    got = {key(r): r.uncompressed_length
           for r in data_file_lengths(spark, root).collect()}
    exp = {key(r): r.uncompressed_length
           for r in tpch_adapter.sstables(spark, sf_dir)
           .select("keyspace", "table_name", "sstable_id",
                   "uncompressed_length").collect()}
    assert got == exp and len(got) > 0


def test_pstats_summary_cassdir_equals_parquet(spark, sf_dir):
    """Directory-only composition (binary index + Data.db byte lengths,
    zero parquet inputs) is bit-identical to the parquet report."""
    from cassandra_sstable_tools_spark.queries.pstats import pstats_summary
    from cassandra_sstable_tools_spark.sources.sstable_binary import (
        pstats_summary_cassdir,
    )

    key = lambda r: (r.keyspace, r.table_name)
    got = sorted(pstats_summary_cassdir(spark, sf_dir).collect(), key=key)
    exp = sorted(pstats_summary(spark, sf_dir).collect(), key=key)
    assert [tuple(r) for r in got] == [tuple(r) for r in exp]


def test_cli_cassandra_dir_matches_parquet_golden(spark, sf_dir):
    """`pstats --cassandra-dir <dir>` must produce the byte-identical
    report the parquet path produces at the same data -- the strongest
    statement the CLI flag can make: a user switching from fixtures to a
    real directory sees the same analytics to the last formatted byte."""
    import contextlib
    import io
    import os

    from cassandra_sstable_tools_spark.__main__ import main

    root = materialize_index_files(spark, sf_dir)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        rc = main(["pstats", "--cassandra-dir", root,
                   "--sf-dir", sf_dir, "-b"], spark=spark)
    assert rc == 0
    golden = os.path.join(os.path.dirname(__file__), "golden", "pstats.txt")
    if os.path.abspath(sf_dir) == "/root/testdata/sf0.001":
        with open(golden) as f:
            assert buf.getvalue() == f.read()
    else:  # non-golden sf_dir: still require a non-empty 3-section report
        assert buf.getvalue().count("+----") >= 6


def _cli_report(spark, argv) -> str:
    import contextlib
    import io

    from cassandra_sstable_tools_spark.__main__ import main

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        assert main(argv, spark=spark) == 0
    return buf.getvalue()


def test_cli_cassandra_dir_honors_filename_filter(spark, sf_dir):
    """`-f` with --cassandra-dir must prune at the file listing and yield
    the byte-identical report the parquet path yields under the same
    filter -- previously the flag was silently ignored in directory
    mode."""
    from cassandra_sstable_tools_spark.sources import tpch_adapter

    root = materialize_index_files(spark, sf_dir)
    ids = sorted(
        r.sstable_id
        for r in tpch_adapter.sstables(spark, sf_dir)
        .select("sstable_id").distinct().collect()
    )
    keep = ",".join(f"nb-{s}-big-Data.db" for s in ids[: len(ids) // 2])
    got = _cli_report(spark, ["pstats", "--cassandra-dir", root,
                              "--sf-dir", sf_dir, "-f", keep, "-b"])
    exp = _cli_report(spark, ["pstats", "--sf-dir", sf_dir, "-f", keep, "-b"])
    full = _cli_report(spark, ["pstats", "--cassandra-dir", root,
                               "--sf-dir", sf_dir, "-b"])
    assert got == exp
    assert got != full  # the filter actually restricted something


def test_cli_cassandra_dir_honors_table_scope(spark, sf_dir):
    """--keyspace/--table with --cassandra-dir narrows the scan root and
    matches the parquet path's scoped report byte-for-byte."""
    from cassandra_sstable_tools_spark.sources import tpch_adapter

    root = materialize_index_files(spark, sf_dir)
    ks, tb = (
        tpch_adapter.sstables(spark, sf_dir)
        .select("keyspace", "table_name").distinct()
        .orderBy("keyspace", "table_name").first()
    )
    for scope in (["--keyspace", ks, "--table", tb], ["--table", tb]):
        got = _cli_report(spark, ["pstats", "--cassandra-dir", root,
                                  "--sf-dir", sf_dir, "-b", *scope])
        exp = _cli_report(spark, ["pstats", "--sf-dir", sf_dir, "-b", *scope])
        assert got == exp
        assert tb in got


def test_sstables_cassdir_matches_metadata(spark, sf_dir):
    """Directory-derived per-sstable listing: partitions from Index.db,
    disk vs uncompressed from Data.db/CompressionInfo.db -- checked
    against the adapter's metadata + the planted compression rule."""
    from cassandra_sstable_tools_spark.sources import sstable_binary as sb
    from cassandra_sstable_tools_spark.sources import tpch_adapter

    rows = {(r.keyspace, r.table_name, r.sstable_id): r
            for r in sb.sstables_cassdir(spark, sf_dir).collect()}
    meta = {(r.keyspace, r.table_name, r.sstable_id): r.uncompressed_length
            for r in tpch_adapter.sstables(spark, sf_dir)
            .select("keyspace", "table_name", "sstable_id",
                    "uncompressed_length").collect()
            if r.uncompressed_length is not None}
    assert set(rows) == set(meta)
    n_comp = 0
    for k, r in rows.items():
        assert r.uncompressed_length == meta[k]
        if r.compressed:
            n_comp += 1
            assert r.disk_length == meta[k] * 3 // 5
        else:
            assert r.disk_length == meta[k]
        assert r.partitions > 0
    assert 0 < n_comp < len(rows)


def test_cli_sstables_cassandra_dir(spark, sf_dir):
    from cassandra_sstable_tools_spark.sources import sstable_binary as sb

    root = materialize_index_files(spark, sf_dir)
    txt = _cli_report(spark, ["sstables", "--cassandra-dir", root,
                              "--sf-dir", sf_dir, "-b"])
    assert "SSTables (directory-derived)" in txt
    n = sb.sstables_cassdir(spark, sf_dir).count()
    # one data row per sstable between the header and footer rules
    assert txt.count("\n|") - 1 == n


def test_cli_cassandra_dir_misuse_is_loud(spark, sf_dir, capsys):
    """A typo'd path or an unsupported subcommand must fail with a clear
    message and rc=2, never a deep AnalysisException stack."""
    from cassandra_sstable_tools_spark.__main__ import main

    root = materialize_index_files(spark, sf_dir)
    assert main(["pstats", "--cassandra-dir", "/no/such/dir",
                 "--sf-dir", sf_dir, "-b"], spark=spark) == 2
    assert "not a directory" in capsys.readouterr().err
    assert main(["dedup", "--cassandra-dir", root,
                 "--sf-dir", sf_dir, "-b"], spark=spark) == 2
    assert "five reference commands" in capsys.readouterr().err


def test_data_file_lengths_plan_prunes_content(spark, sf_dir):
    """Data.db contents never enter the plan (a content read would ship
    every data byte through the executor for a length lookup): the
    lengths come from the driver-side listing, so there is no Data.db file
    scan at all, and the CompressionInfo.db headers are read by the
    per-sstable pass, so the combined resolve has no file scan either."""
    from cassandra_sstable_tools_spark.sources.sstable_binary import (
        _data_db_byte_lengths,
        data_file_lengths,
    )

    root = materialize_index_files(spark, sf_dir)
    plan = (
        _data_db_byte_lengths(spark, root)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "content" not in plan
    combined = (
        data_file_lengths(spark, root)
        ._jdf.queryExecution().executedPlan().toString()
    )
    # no file scan at all; the Data.db side is a local relation of the
    # listing
    assert "FileScan" not in combined
    assert "LocalTableScan" in combined


def test_stream_parse_matches_whole_buffer():
    """Chunked streaming parse == whole-buffer parse for every version
    regime, at a chunk size small enough that nearly every entry straddles
    a chunk boundary (the carry-over path)."""
    import io

    from cassandra_sstable_tools_spark.sources.sstable_binary import (
        encode_index_db,
        parse_index_db,
        stream_parse_index_db,
    )

    entries = [
        (f"key-{i:04d}".encode() * (1 + i % 3), 17 * i * i) for i in range(200)
    ]
    for version in ("jb", "ma", "nb"):
        blob = encode_index_db(entries, version=version)
        for chunk in (7, 64, len(blob), len(blob) + 99):
            got = list(
                stream_parse_index_db(
                    io.BytesIO(blob), version=version, chunk_bytes=chunk
                )
            )
            assert got == parse_index_db(blob, version=version)
    assert list(stream_parse_index_db(io.BytesIO(b""))) == []


@pytest.mark.parametrize("cut", ["key", "position", "promoted"])
def test_stream_parse_truncation_is_loud(cut):
    """A file cut inside the second entry's key, its two-byte position
    vint or its promoted index fails naming the entry's offset."""
    import io

    import pytest as _pytest

    entries = [(b"aaa", 0), (b"bbb", 999)]
    blob = encode_index_db(entries)
    second = index_offsets(entries)[1]
    # u16 length, key, position vint (999: two bytes), promoted size vint,
    # promoted bytes
    end = {"key": second + 3, "position": second + 6,
           "promoted": len(blob) - 2}[cut]
    with _pytest.raises(ValueError, match="truncated entry") as err:
        list(
            stream_parse_index_db(
                io.BytesIO(blob[:end]), source="t", chunk_bytes=5
            )
        )
    assert f"corrupt Index.db t: truncated entry at byte {second}" in str(
        err.value
    )


def _oversized_entry(tmp_path) -> tuple[str, str, list[bytes], int]:
    """A planted ByteOrderedPartitioner sstable whose last Index.db entry
    declares a 2^40-byte promoted index: ``(root, Index.db path, keys in
    index order, byte offset of that entry)``."""
    from test_lookup import _BYTE_ORDERED, _plant_sstable

    _keys, ordered, base = _plant_sstable(tmp_path, _BYTE_ORDERED)
    path = base + "Index.db"
    with open(path, "rb") as f:
        entries = parse_index_db(f.read(), version="nb")
    off = index_offsets(entries)[-1]
    key, pos = entries[-1]
    with open(path, "r+b") as f:
        f.truncate(off)
        f.seek(off)
        f.write(len(key).to_bytes(2, "big") + key + write_unsigned_vint(pos)
                + write_unsigned_vint(1 << 40))
    return str(tmp_path), path, ordered, off


def _stream_parse(spark, root, path, keys):
    with open(path, "rb") as f:
        return list(stream_parse_index_db(f, source=path))


# every reader of the oversized entry, as ``read(spark, root, path, keys)``
_OVERSIZED_READS = {
    "stream_parse_index_db": _stream_parse,
    "point_read": lambda spark, root, path, keys: point_read(
        spark, root, [keys[-1].decode()]
    ).collect(),
    "range_read": lambda spark, root, path, keys: range_read(
        spark, root, keys[-2].decode(), keys[-1].decode()
    ).collect(),
    "pstats_report": lambda spark, root, path, keys: pstats_report(
        spark, root
    ),
    "data_cells-2-shards": lambda spark, root, path, keys: data_cells(
        spark, root, shards_per_sstable=2
    ).collect(),
}


@pytest.mark.parametrize("reader", list(_OVERSIZED_READS))
def test_oversized_entry_is_refused_with_path_and_offset(
    spark, tmp_path, reader
):
    """A promoted index of 2^40 bytes is corruption: every reader fails
    with a ValueError naming the Index.db and the entry's byte offset,
    before it tries to read or buffer those bytes (a MemoryError would
    name neither)."""
    root, path, keys, off = _oversized_entry(tmp_path)
    with pytest.raises(Exception, match="corrupt Index.db ") as err:
        _OVERSIZED_READS[reader](spark, root, path, keys)
    assert f"{path}: entry at byte {off} exceeds" in str(err.value)
    assert "MemoryError" not in str(err.value)


def test_compression_info_roundtrip():
    """dataLength survives encode->parse across all three version regimes
    (pre-4.0 formats lack the maxCompressedLength int)."""
    from cassandra_sstable_tools_spark.sources.sstable_binary import (
        encode_compression_info,
        parse_compression_info,
    )

    for version in ("jb", "ma", "nb"):
        for n in (0, 1, 65535, 65536, 10_000_000_007):
            blob = encode_compression_info(
                n, version=version, options={"a": "1", "bb": "22"}
            )
            assert parse_compression_info(blob, version=version) == n
    # version regime actually changes the bytes (the 4.0 extra int)
    assert encode_compression_info(7, version="ma") != encode_compression_info(
        7, version="nb"
    )


def test_compression_info_corrupt_is_loud():
    from cassandra_sstable_tools_spark.sources.sstable_binary import (
        encode_compression_info,
        parse_compression_info,
    )

    blob = encode_compression_info(123456, version="nb")
    with pytest.raises(ValueError, match="corrupt CompressionInfo"):
        parse_compression_info(blob[:10], version="nb", source="t")
    # wrong-regime read lands 4 bytes off the dataLength field; since the
    # full parser validates the chunk count against ceil(dataLength /
    # chunkLength), the misalignment is now LOUD rather than wrong
    with pytest.raises(ValueError, match="corrupt CompressionInfo"):
        parse_compression_info(blob, version="ma")


def test_compressed_fixture_subset_is_differential(spark, sf_dir):
    """The planted-compressed subset must be non-trivial AND its Data.db
    byte lengths must DIFFER from the true lengths -- otherwise a code
    path that ignores CompressionInfo.db would pass every test above."""
    from cassandra_sstable_tools_spark.sources import tpch_adapter
    from cassandra_sstable_tools_spark.sources.sstable_binary import (
        _data_db_byte_lengths,
        compression_data_lengths,
    )

    root = materialize_index_files(spark, sf_dir)
    key = lambda r: (r.keyspace, r.table_name, r.sstable_id)
    comp = {key(r): r.uncompressed_length
            for r in compression_data_lengths(spark, root).collect()}
    raw = {key(r): r.uncompressed_length
           for r in _data_db_byte_lengths(spark, root).collect()}
    exp = {key(r): r.uncompressed_length
           for r in tpch_adapter.sstables(spark, sf_dir)
           .select("keyspace", "table_name", "sstable_id",
                   "uncompressed_length").collect()}
    assert len(comp) > 0 and len(comp) < len(raw)  # a strict subset
    for k, n in comp.items():
        assert n == exp[k]  # header carries the TRUE length
        if exp[k] >= 3:
            assert raw[k] != exp[k]  # byte length is compressed => differs


def _v2_read(spark, root, filenames=None):
    """The V2 reader, ``-f`` through its ``files`` option."""
    from cassandra_sstable_tools_spark.sources.pyds import (
        FORMAT_NAME,
        register,
    )

    register(spark)
    reader = spark.read.format(FORMAT_NAME)
    if filenames:
        reader = reader.option("files", ",".join(filenames))
    return reader.load(root)


def _dir_sources():
    """Every directory source that reads per-sstable components, as
    (spark, root, filenames) -> DataFrame."""
    from cassandra_sstable_tools_spark.sources import (
        bloom,
        crc_db,
        data_cells,
        data_db,
        statistics_db,
        summary_db,
    )
    from cassandra_sstable_tools_spark.sources import sstable_binary as sb

    return {
        "statistics_metadata": statistics_db.statistics_metadata,
        "v2_reader": _v2_read,
        "binary_index_entries": sb.binary_index_entries,
        "binary_index_sizes": sb.binary_index_sizes,
        "toc_checks": sb.toc_checks,
        "_data_db_meta": sb._data_db_meta,
        "crc_checks": crc_db.crc_checks,
        "bloom_checks": bloom.bloom_checks,
        "summary_entries": summary_db.summary_entries,
        "summary_bounds": summary_db.summary_bounds,
        "partition_deletions": data_db.partition_deletions,
        "digest_checks": data_db.digest_checks,
        "data_cells": data_cells.data_cells,
        "decodable_sstables": data_cells.decodable_sstables,
    }


def _write_two_sstables(table_dir: str) -> None:
    """Two complete uncompressed sstables (nb-1, nb-2), each with live
    cells and one partition deletion, so every directory source has rows
    from both."""
    from cassandra_sstable_tools_spark.sources.pyds_writer import write_sstable

    long_type = "org.apache.cassandra.db.marshal.LongType"

    def row(pk, kind="CELL", **kw):
        base = dict(
            partition_key=pk, kind=kind, clustering="r0", column_name="c0",
            cell_path=None, writetime=1000, ttl=None,
            local_deletion_time=None, is_tombstone=False, is_expiring=False,
            is_counter=False, cell_value=None, range_start=None,
            range_end=None, value_len=8, value_bytes=(7).to_bytes(8, "big"),
            value_marshal=long_type,
        )
        base.update(kw)
        return base

    for sid in ("1", "2"):
        rows = [
            row(f"k{sid}a"), row(f"k{sid}b"),
            row(f"k{sid}c", kind="PARTITION_DELETE", clustering=None,
                column_name=None, writetime=5, local_deletion_time=100,
                is_tombstone=True, value_len=None, value_bytes=None,
                value_marshal=None),
        ]
        write_sstable(rows, table_dir, sstable_id=sid)


@pytest.mark.parametrize("source", sorted(_dir_sources()))
def test_snapshot_and_backup_dirs_excluded(spark, tmp_path, source):
    """r07 ADVICE #2: a recursive listing must not pick up sstable copies
    under <table>/snapshots/<tag>/ or <table>/backups/ -- a real data
    directory always has them, and counting them double-counts data under
    a misattributed (keyspace='snapshots') identity. The exclusion and the
    reference's -f rule live in the driver-side inventory; every source
    must honour both."""
    import os
    import shutil

    from cassandra_sstable_tools_spark.sources.inventory import (
        sstable_inventory,
    )

    read = _dir_sources()[source]
    live_root, root = tmp_path / "live", tmp_path / "cas"
    _write_two_sstables(str(live_root / "ks1" / "tab"))
    shutil.copytree(live_root, root)
    live = root / "ks1" / "tab"
    snap = live / "snapshots" / "tag1"
    back = live / "backups"
    os.makedirs(snap)
    os.makedirs(back)
    for name in os.listdir(live):
        if os.path.isfile(live / name):
            shutil.copy2(live / name, snap / name)
            shutil.copy2(live / name, back / name)

    def rows(r, filenames=None):
        return sorted(
            (tuple(x) for x in read(spark, str(r), filenames).collect()),
            key=repr,
        )

    want = rows(live_root)
    got = rows(root)
    assert got == want  # live copies only
    assert {r[:2] for r in got} == {("ks1", "tab")}
    assert {r[2] for r in got} == {"1", "2"}
    # -f keeps the sstables it names and drops the others
    assert rows(root, ["nb-1-big-Data.db"]) == [r for r in want if r[2] == "1"]
    assert rows(root, ["nb-3-big-Data.db"]) == []

    inv = sstable_inventory(str(root))
    assert [s.path("Index.db") for s in inv] == [
        f"file:{live}/nb-1-big-Index.db", f"file:{live}/nb-2-big-Index.db"
    ]
    assert sstable_inventory(str(root), ["nb-1-big-Data.db"]) == inv[:1]
    assert sstable_inventory(str(snap)) == []


def test_sstable_handle_identity_and_siblings():
    """The per-sstable handle parses its identity with _parse_filename's
    checks (malformed name, path without keyspace/table dirs -> loud) and
    answers sibling paths and lengths from the listing; a component
    absent from the listing is a ValueError naming the sstable and the
    component."""
    from cassandra_sstable_tools_spark.sources.inventory import SSTable

    sst = SSTable(
        "file:/r/ks/tb/nb-7-big-", frozenset({"Index.db", "Data.db"}),
        (("Data.db", 10, 7), ("Index.db", 3, 7)), uri_prefix="file:",
    )
    assert sst.identity == ("ks", "tb", "7") and sst.version == "nb"
    assert sst.path("Data.db") == "file:/r/ks/tb/nb-7-big-Data.db"
    assert sst.fs_path("Data.db") == "/r/ks/tb/nb-7-big-Data.db"
    assert (sst.length("Data.db"), sst.mtime("Index.db")) == (10, 7)
    for probe in (sst.length, sst.mtime):
        with pytest.raises(ValueError, match="nb-7-big-.*Summary.db"):
            probe("Summary.db")
    with pytest.raises(ValueError, match="lacks keyspace/table"):
        SSTable("file:/nb-7-big-", frozenset({"Index.db"})).identity
    with pytest.raises(ValueError, match="not an Index.db component"):
        SSTable("file:/r/ks/tb/junk-", frozenset({"Index.db"})).identity


def test_root_uri_spellings_agree(spark, tmp_path):
    """``/x``, ``file:/x`` and ``file:///x`` resolve to the same
    filesystem path: equal inventories with ``file:/x/...`` paths, and
    identical rows from the sources that read through them."""
    from cassandra_sstable_tools_spark.sources.data_cells import data_cells
    from cassandra_sstable_tools_spark.sources.inventory import (
        sstable_inventory,
    )
    from cassandra_sstable_tools_spark.sources.sstable_binary import (
        binary_index_sizes,
    )
    from cassandra_sstable_tools_spark.sources.statistics_db import (
        statistics_metadata,
    )

    root = tmp_path / "cas"
    _write_two_sstables(str(root / "ks1" / "tab"))
    spellings = [str(root), f"file:{root}", f"file://{root}"]
    invs = [sstable_inventory(r) for r in spellings]
    assert invs[0] == invs[1] == invs[2] and len(invs[0]) == 2
    assert [s.path("Data.db") for s in invs[0]] == [
        f"file:{root}/ks1/tab/nb-{i}-big-Data.db" for i in (1, 2)
    ]
    for read in (statistics_metadata, binary_index_sizes, data_cells):
        got = [
            sorted(tuple(x) for x in read(spark, r).collect())
            for r in spellings
        ]
        assert got[0] and got[0] == got[1] == got[2], read.__name__


@pytest.mark.parametrize(
    "source",
    sorted(set(_dir_sources()) - {"_data_db_meta", "decodable_sstables"}),
)
def test_directory_source_is_one_job(spark, sf_dir, source):
    """Collecting a per-sstable directory source runs exactly ONE Spark
    job: the listing is driver-side, and the read is one stage with no
    count(), no listing collect() and no range-partition sampling job.
    (_data_db_meta and decodable_sstables are local relations built from
    the listing: they run none.)"""
    root = materialize_index_files(spark, sf_dir)
    df = _dir_sources()[source](spark, root)
    sc = spark.sparkContext
    group = f"one-job:{source}"
    tracker = sc.statusTracker()
    sc.setJobGroup(group, group)
    try:
        df.collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    jobs = tracker.getJobIdsForGroup(group)
    assert len(jobs) == 1, f"{source} ran {len(jobs)} Spark jobs"


def test_non_utf8_key_renders_hex(spark, tmp_path):
    """r07 ADVICE #1: real partition keys are type-serialized bytes (a
    bigint key is 8 raw bytes, routinely invalid UTF-8); the scan must
    render them 0x-hex instead of crashing with UnicodeDecodeError."""
    import os
    import struct

    from cassandra_sstable_tools_spark.sources.data_db import (
        encode_partition_header,
        partition_deletions,
    )
    from cassandra_sstable_tools_spark.sources.sstable_binary import render_key

    long_key = struct.pack(">q", 42)          # bigint key: b'\x00..\x2a'
    utf8_key = "plain".encode()
    assert render_key(long_key) == "0x" + long_key.hex()
    assert render_key(utf8_key) == "plain"

    root = tmp_path / "cas"
    d = root / "ks1" / "tab"
    os.makedirs(d)
    entries = [(long_key, 0), (utf8_key, 64)]
    with open(d / "nb-00001-big-Index.db", "wb") as f:
        f.write(encode_index_db(entries))
    with open(d / "nb-00001-big-Data.db", "wb") as f:
        f.write(encode_partition_header(long_key, 1000, 2000))
        f.seek(64)
        f.write(encode_partition_header(utf8_key, 1100, 2100))
    idx = binary_index_entries(spark, str(root)).collect()
    assert {r.partition_key for r in idx} == {"0x" + long_key.hex(), "plain"}
    dels = partition_deletions(spark, str(root)).collect()
    assert {r.partition_key for r in dels} == {"0x" + long_key.hex(), "plain"}


def test_snapshot_pinning_survives_source_delete(spark, sf_dir, tmp_path):
    """--pin-snapshot isolation: hardlink-snapshot the tree, DELETE a
    source file, and the snapshot scan must return the identical rows
    (the reference's live-node isolation, ColumnFamilyBackend.java:71-79)."""
    import glob
    import os
    import shutil

    from cassandra_sstable_tools_spark.sources.sstable_binary import (
        snapshot_components,
    )

    src = str(tmp_path / "src")
    shutil.copytree(materialize_index_files(spark, sf_dir), src)
    before = sorted(
        map(tuple, binary_index_entries(spark, src).collect())
    )
    snap = snapshot_components(src, dest=str(tmp_path / "snap"))
    victim = sorted(glob.glob(f"{src}/**/*-Index.db", recursive=True))[0]
    os.remove(victim)
    after_snap = sorted(
        map(tuple, binary_index_entries(spark, snap).collect())
    )
    assert after_snap == before  # snapshot pinned the inode
    after_src = sorted(
        map(tuple, binary_index_entries(spark, src).collect())
    )
    assert len(after_src) < len(before)  # the live tree really lost data


def test_cli_pin_snapshot_runs_and_cleans_up(spark, sf_dir, tmp_path):
    import contextlib
    import glob
    import io

    from cassandra_sstable_tools_spark.__main__ import main

    root = materialize_index_files(spark, sf_dir)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        rc = main(["pstats", "--cassandra-dir", root, "--pin-snapshot",
                   "--sf-dir", sf_dir, "-b"], spark=spark)
    assert rc == 0 and buf.getvalue().count("+----") >= 6
    assert not glob.glob("/tmp/sstable-snapshot-*"), "snapshot not cleaned"


def test_key_type_rendering_end_to_end(spark, tmp_path):
    """--key-type long: a planted directory with 8-byte bigint keys renders
    decimal key strings through the whole pstats path (reference
    keyValidator.getString parity for the common types)."""
    import contextlib
    import io
    import os
    import struct

    from cassandra_sstable_tools_spark.__main__ import main

    root = tmp_path / "cas"
    d = root / "ks1" / "tab"
    os.makedirs(d)
    entries = [(struct.pack(">q", k), pos)
               for k, pos in [(-5, 0), (42, 100), (7_000_000_000, 250)]]
    with open(d / "nb-00001-big-Index.db", "wb") as f:
        f.write(encode_index_db(entries))
    with open(d / "nb-00001-big-Data.db", "wb") as f:
        f.truncate(400)
    got = {
        r.partition_key
        for r in binary_index_entries(
            spark, str(root), key_type="long"
        ).collect()
    }
    assert got == {"-5", "42", "7000000000"}
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        rc = main(["pstats", "--cassandra-dir", str(root), "--key-type",
                   "long", "--sf-dir", "/root/testdata/sf0.001", "-b"],
                  spark=spark)
    assert rc == 0
    assert "7000000000" in buf.getvalue()


def test_toc_check_torn_copy_differentials(spark, sf_dir, tmp_path):
    """toc_check must move with the FILES: a deleted listed component ->
    missing>0, a foreign unlisted file -> extra>0; intact tree -> all
    complete."""
    import os
    import shutil

    from cassandra_sstable_tools_spark.sources.sstable_binary import (
        toc_checks,
    )

    root = str(tmp_path / "tree")
    shutil.copytree(materialize_index_files(spark, sf_dir), root)
    base = toc_checks(spark, root).collect()
    assert base and all(r["complete"] for r in base)
    # tear one copy: remove a listed Statistics.db
    victim = None
    for dirpath, _, files in os.walk(root):
        for f in files:
            if f.endswith("-Statistics.db"):
                victim = os.path.join(dirpath, f)
                break
        if victim:
            break
    os.remove(victim)
    # and plant a foreign unlisted component beside another sstable
    toc = next(
        os.path.join(dp, f)
        for dp, _, fs in os.walk(root) for f in fs if f.endswith("-TOC.txt")
    )
    # a name no fixture version writes (v10 made Summary.db legitimate)
    foreign = toc[: -len("TOC.txt")] + "Foreign.db"
    with open(foreign, "wb") as f:
        f.write(b"\x00" * 16)
    got = {(r["table_name"], r["sstable_id"]): r
           for r in toc_checks(spark, root).collect()}
    vic_id = os.path.basename(victim).split("-")[1]
    vic_tb = os.path.basename(os.path.dirname(victim))
    assert got[(vic_tb, vic_id)]["missing"] == 1
    assert not got[(vic_tb, vic_id)]["complete"]
    for_id = os.path.basename(foreign).split("-")[1]
    for_tb = os.path.basename(os.path.dirname(foreign))
    assert got[(for_tb, for_id)]["extra"] >= 1
    assert not got[(for_tb, for_id)]["complete"]


# --------------------------------------------------------------------------
# r10 renderer breadth: date/time/inet/varint/decimal/tinyint, exact in
# their regimes, fallback elsewhere; encoder inverses round-trip
# --------------------------------------------------------------------------


def _m(name):
    return f"org.apache.cassandra.db.marshal.{name}"


def test_render_simple_date():
    epoch = (1 << 31).to_bytes(4, "big")
    assert render_typed(epoch, _m("SimpleDateType")) == "1970-01-01"
    d = ((1 << 31) + 19_000).to_bytes(4, "big")
    assert render_typed(d, _m("SimpleDateType")) == "2022-01-08"
    neg = ((1 << 31) - 1).to_bytes(4, "big")
    assert render_typed(neg, _m("SimpleDateType")) == "1969-12-31"
    # out of Python's date range: fallback, never a wrong date
    assert render_typed(b"\x00\x00\x00\x00", _m("SimpleDateType")).startswith("0x")
    # wrong width: fallback
    assert render_typed(b"\x01\x02", _m("SimpleDateType")) == "0x0102"


def test_render_time_nanos():
    n = ((8 * 3600 + 12 * 60 + 54) * 1_000_000_000 + 123_456_789)
    assert (
        render_typed(n.to_bytes(8, "big"), _m("TimeType"))
        == "08:12:54.123456789"
    )
    assert render_typed((0).to_bytes(8, "big"), _m("TimeType")) == "00:00:00.000000000"
    over = (86_400_000_000_000).to_bytes(8, "big")
    assert render_typed(over, _m("TimeType")).startswith("0x")


def test_render_inet():
    assert render_typed(bytes([10, 0, 0, 1]), _m("InetAddressType")) == "10.0.0.1"
    v6 = bytes.fromhex("20010db8000000000000000000000001")
    # Java Inet6Address.getHostAddress: no zero compression
    assert render_typed(v6, _m("InetAddressType")) == "2001:db8:0:0:0:0:0:1"
    mapped = b"\x00" * 10 + b"\xff\xff" + bytes([192, 168, 0, 9])
    # Java returns an Inet4Address for v4-mapped bytes
    assert render_typed(mapped, _m("InetAddressType")) == "192.168.0.9"
    assert render_typed(b"\x01\x02\x03", _m("InetAddressType")) == "0x010203"


def test_render_varint_and_tinyint():
    assert render_typed(b"\x7b", _m("IntegerType")) == "123"
    assert render_typed(b"\xff", _m("IntegerType")) == "-1"
    big = (10**30).to_bytes(13, "big")
    assert render_typed(big, _m("IntegerType")) == str(10**30)
    assert render_typed(b"\x80", _m("ByteType")) == "-128"


def test_render_decimal_plain_regime_and_fallbacks():
    def dec(scale, unscaled):
        n = unscaled.to_bytes(
            max(1, (unscaled.bit_length() + 8) // 8), "big", signed=True
        )
        return scale.to_bytes(4, "big", signed=True) + n

    t = _m("DecimalType")
    assert render_typed(dec(0, 123), t) == "123"
    assert render_typed(dec(2, 12345), t) == "123.45"
    assert render_typed(dec(5, 123), t) == "0.00123"
    assert render_typed(dec(5, -123), t) == "-0.00123"
    assert render_typed(dec(2, 0), t) == "0.00"
    # BigDecimal's scientific regime (adjusted exponent < -6): fallback,
    # never a guessed E-notation spelling
    assert render_typed(dec(9, 123), t).startswith("0x")
    # negative scale (always scientific in Java): fallback
    assert render_typed(dec(-2, 123), t).startswith("0x")


def test_new_key_encoders_round_trip():
    cases = [
        ("date", "2022-01-08"),
        ("date", "1969-12-31"),
        ("time", "08:12:54.123456789"),
        ("time", "00:00:00.000000000"),
        ("inet", "10.0.0.1"),
        ("inet", "2001:db8:0:0:0:0:0:1"),
        ("varint", str(10**30)),
        ("varint", "-1"),
        ("boolean", "true"),
        ("boolean", "false"),
        ("smallint", "-32768"),
        ("tinyint", "-128"),
    ]
    for alias, display in cases:
        b = key_encoder(alias)(display)
        assert key_renderer(alias)(b) == display, (alias, display)
    # unparseable displays are loud
    import pytest as _pytest

    for alias, bad in [("date", "not-a-date"), ("time", "8:1:2"),
                       ("inet", "999.0.0.1"), ("boolean", "TRUE")]:
        with _pytest.raises(ValueError):
            key_encoder(alias)(bad)


def test_typed_clustering_new_types_round_trip(tmp_path):
    """The new display inverses work as writer clustering types."""
    from cassandra_sstable_tools_spark.sources.data_cells import (
        _COLS_VALUES,
        scan_sstable_cell_rows,
    )
    from cassandra_sstable_tools_spark.sources.pyds_writer import (
        write_sstable,
    )

    for alias, displays in [
        ("date", ["1999-12-31", "2022-01-08"]),
        ("time", ["00:00:00.000000000", "23:59:59.999999999"]),
        ("inet", ["10.0.0.1", "10.0.0.2"]),
        ("varint", ["-5", "7"]),
    ]:
        rows = [
            dict(
                partition_key="k", kind="CELL", clustering=cl,
                column_name="c0", cell_path=None, writetime=1000 + i,
                ttl=None, local_deletion_time=None, is_tombstone=False,
                is_expiring=False, is_counter=False, cell_value=i,
                range_start=None, range_end=None, value_len=8,
                value_bytes=i.to_bytes(8, "big"), value_marshal=None,
            )
            for i, cl in enumerate(displays)
        ]
        out = str(tmp_path / alias)
        write_sstable(rows, f"{out}/ks/tb", sstable_id="1",
                      clustering_type=alias)
        got = scan_sstable_cell_rows(
            f"{out}/ks/tb/nb-1-big-Index.db", with_values=True
        )
        cl = sorted(r[_COLS_VALUES.index("clustering")] for r in got)
        assert cl == sorted(displays), alias


def test_varint_minimal_twos_complement_boundaries():
    """BigInteger.toByteArray minimality at byte boundaries -- the
    review-caught over-sizing made pushdown point reads miss -128."""
    enc = key_encoder("varint")
    assert enc("-128") == b"\x80"
    assert enc("-32768") == b"\x80\x00"
    assert enc("-129") == b"\xff\x7f"
    assert enc("127") == b"\x7f"
    assert enc("128") == b"\x00\x80"
    assert enc("0") == b"\x00"
    for s in ["-128", "-32768", "-129", "127", "128", "0", str(-(2**63))]:
        assert key_renderer("varint")(enc(s)) == s


# --------------------------------------------------------------------------
# r10 property tests: typed display <-> bytes inverses are exact inverses
# over their whole domains (hypothesis)
# --------------------------------------------------------------------------

from hypothesis import given, settings
from hypothesis import strategies as st


@given(n=st.integers(min_value=-(10**40), max_value=10**40))
@settings(max_examples=300, deadline=None)
def test_varint_display_roundtrip_property(n):
    b = key_encoder("varint")(str(n))
    assert key_renderer("varint")(b) == str(n)
    # minimality: BigInteger.toByteArray never emits a redundant
    # leading byte (0x00 before a clear sign bit / 0xff before a set one)
    if len(b) > 1:
        assert not (b[0] == 0 and b[1] < 0x80)
        assert not (b[0] == 0xFF and b[1] >= 0x80)


@given(days=st.integers(min_value=-719162, max_value=2932896))
@settings(max_examples=300, deadline=None)
def test_date_bytes_roundtrip_property(days):
    # full Python-date range: year 1 (-719162) .. year 9999 (2932896)
    raw = ((days + (1 << 31)) & 0xFFFFFFFF).to_bytes(4, "big")
    disp = render_typed(raw, "org.apache.cassandra.db.marshal.SimpleDateType")
    assert not disp.startswith("0x")
    assert key_encoder("date")(disp) == raw


@given(n=st.integers(min_value=0, max_value=86_399_999_999_999))
@settings(max_examples=300, deadline=None)
def test_time_bytes_roundtrip_property(n):
    raw = n.to_bytes(8, "big")
    disp = render_typed(raw, "org.apache.cassandra.db.marshal.TimeType")
    assert key_encoder("time")(disp) == raw


@given(raw=st.binary(min_size=4, max_size=4) | st.binary(min_size=16, max_size=16))
@settings(max_examples=300, deadline=None)
def test_inet_bytes_roundtrip_property(raw):
    disp = render_typed(raw, "org.apache.cassandra.db.marshal.InetAddressType")
    back = key_encoder("inet")(disp)
    if len(raw) == 16 and raw[:12] == b"\x00" * 10 + b"\xff\xff":
        # v4-mapped renders as the quad (Java behavior): the primary
        # encoding is the 4-byte form, the mapped form is the second
        # candidate both lookup paths probe
        assert back == raw[12:]
    else:
        assert back == raw


@given(scale=st.integers(min_value=0, max_value=20),
       unscaled=st.integers(min_value=-(10**25), max_value=10**25))
@settings(max_examples=300, deadline=None)
def test_decimal_plain_regime_is_injective_and_parses(scale, unscaled):
    from decimal import Decimal

    n = unscaled.to_bytes(
        max(1, ((unscaled if unscaled >= 0 else ~unscaled).bit_length() // 8) + 1),
        "big", signed=True,
    )
    raw = scale.to_bytes(4, "big", signed=True) + n
    disp = render_typed(raw, "org.apache.cassandra.db.marshal.DecimalType")
    digits = str(abs(unscaled))
    if len(digits) - 1 - scale < -6:
        assert disp.startswith("0x")  # scientific regime: fallback
    else:
        # plain regime: the display IS the exact decimal value
        assert Decimal(disp) == Decimal(unscaled).scaleb(-scale)
        assert "." in disp or scale == 0


# --------------------------------------------------------------------------
# r11: TimestampType -- the documented-approximate ISO-8601 render
# (never claimed TimestampSerializer-identical; see the module caveat)
# --------------------------------------------------------------------------


def test_render_timestamp():
    t = _m("TimestampType")
    assert render_typed((0).to_bytes(8, "big", signed=True), t) \
        == "1970-01-01T00:00:00.000Z"
    ms = 1646130672345  # 2022-03-01 10:31:12.345 UTC
    assert render_typed(ms.to_bytes(8, "big", signed=True), t) \
        == "2022-03-01T10:31:12.345Z"
    # negative millis floor correctly into the previous second
    assert render_typed((-1).to_bytes(8, "big", signed=True), t) \
        == "1969-12-31T23:59:59.999Z"
    # out of Python's datetime range: fallback, never a wrong instant
    big = (1 << 62).to_bytes(8, "big", signed=True)
    assert render_typed(big, t).startswith("0x")
    # wrong width: fallback
    assert render_typed(b"\x01\x02", t) == "0x0102"


def test_timestamp_encoder_round_trip_and_strictness():
    enc = key_encoder("timestamp")
    for disp in ["1970-01-01T00:00:00.000Z", "2022-03-01T10:31:12.345Z",
                 "1969-12-31T23:59:59.999Z", "0001-01-01T00:00:00.000Z",
                 "9999-12-31T23:59:59.999Z"]:
        assert key_renderer("timestamp")(enc(disp)) == disp
    import pytest as _pytest
    # strict: spellings the renderer never emits are refused, so the
    # writer's re-render verification can never pass on a near-miss
    for bad in ["2022-03-01 10:31:12.345Z", "2022-03-01T10:31:12Z",
                "2022-03-01T10:31:12.345", "2022-13-01T00:00:00.000Z"]:
        with _pytest.raises(ValueError):
            enc(bad)


@given(ms=st.integers(min_value=-62135596800000,
                      max_value=253402300799999))
@settings(max_examples=300, deadline=None)
def test_timestamp_display_roundtrip_property(ms):
    # full Python-datetime range: 0001-01-01T00:00:00.000Z ..
    # 9999-12-31T23:59:59.999Z
    raw = ms.to_bytes(8, "big", signed=True)
    disp = render_typed(raw, "org.apache.cassandra.db.marshal.TimestampType")
    assert not disp.startswith("0x")
    assert key_encoder("timestamp")(disp) == raw


def test_typed_timestamp_clustering_round_trips(tmp_path):
    """Timestamp clusterings write through the inverse, re-render
    identically, and order chronologically (comparator = signed long)."""
    from cassandra_sstable_tools_spark.sources.data_cells import (
        _COLS_VALUES,
        scan_sstable_cell_rows,
    )
    from cassandra_sstable_tools_spark.sources.pyds_writer import (
        write_sstable,
    )

    displays = ["2022-03-01T10:31:12.345Z", "1969-12-31T23:59:59.999Z",
                "1970-01-01T00:00:00.000Z"]
    rows = [
        dict(
            partition_key="k", kind="CELL", clustering=cl,
            column_name="c0", cell_path=None, writetime=1000 + i,
            ttl=None, local_deletion_time=None, is_tombstone=False,
            is_expiring=False, is_counter=False, cell_value=i,
            range_start=None, range_end=None, value_len=8,
            value_bytes=i.to_bytes(8, "big"), value_marshal=None,
        )
        for i, cl in enumerate(displays)
    ]
    out = str(tmp_path / "ts")
    write_sstable(rows, f"{out}/ks/tb", sstable_id="1",
                  clustering_type="timestamp")
    got = scan_sstable_cell_rows(
        f"{out}/ks/tb/nb-1-big-Index.db", with_values=True
    )
    # file order is CHRONOLOGICAL, not insertion or display-lexical
    assert [r[_COLS_VALUES.index("clustering")] for r in got] == [
        "1969-12-31T23:59:59.999Z", "1970-01-01T00:00:00.000Z",
        "2022-03-01T10:31:12.345Z",
    ]


def test_timestamp_clustering_renders_in_sstables_listing(spark, tmp_path):
    """The `sstables` listing surface (statistics_metadata) renders a
    TimestampType tree's min/max clustering as the readable ISO instant,
    not hex (r10 verdict missing #3's done-criterion)."""
    from cassandra_sstable_tools_spark.sources.pyds_writer import (
        write_sstable,
    )
    from cassandra_sstable_tools_spark.sources.statistics_db import (
        statistics_metadata,
    )

    displays = ["2022-03-01T10:31:12.345Z", "1969-12-31T23:59:59.999Z"]
    rows = [
        dict(
            partition_key="k", kind="CELL", clustering=cl,
            column_name="c0", cell_path=None, writetime=1000 + i,
            ttl=None, local_deletion_time=None, is_tombstone=False,
            is_expiring=False, is_counter=False, cell_value=i,
            range_start=None, range_end=None, value_len=8,
            value_bytes=i.to_bytes(8, "big"), value_marshal=None,
        )
        for i, cl in enumerate(displays)
    ]
    out = str(tmp_path / "ts")
    write_sstable(rows, f"{out}/ks/tb", sstable_id="1",
                  clustering_type="timestamp")
    row = statistics_metadata(spark, out).collect()[0]
    assert row.min_clustering == "1969-12-31T23:59:59.999Z"
    assert row.max_clustering == "2022-03-01T10:31:12.345Z"
