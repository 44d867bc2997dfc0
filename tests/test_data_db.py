"""Data.db partition-header source: header codec, key-verified seeks,
LIVE filtering, the compressed/absent exclusions, and the oracle-certified
partition-tombstone query."""

from __future__ import annotations

import io
import os
import shutil
import struct

import pytest

from cassandra_sstable_tools_spark.constants import GC_BEFORE
from cassandra_sstable_tools_spark.sources.data_db import (
    LIVE_LDT,
    LIVE_MFDA,
    encode_partition_header,
    partition_deletions,
    read_partition_header,
)
from cassandra_sstable_tools_spark.sources.sstable_binary import (
    materialize_index_files,
)


def test_header_exact_bytes():
    """Spec-pinned wire: u16 BE key length + key + int ldt + long
    markedForDeleteAt (DeletionTime.serializer order)."""
    blob = encode_partition_header(b"k1", 1699000000, 1699000000123456)
    assert blob == (
        b"\x00\x02k1" + struct.pack(">iq", 1699000000, 1699000000123456)
    )
    live = encode_partition_header(b"k1")
    assert live.endswith(struct.pack(">iq", LIVE_LDT, LIVE_MFDA))


def test_read_verifies_key_and_bounds():
    buf = io.BytesIO(
        b"\x00" * 7
        + encode_partition_header(b"abc", 5, 9)
        + encode_partition_header(b"zz")
    )
    assert read_partition_header(buf, 7, b"abc") == (5, 9)
    # wrong expected key at a valid offset -> None, never garbage
    assert read_partition_header(buf, 7, b"abd") is None
    assert read_partition_header(buf, 7, b"abcd") is None
    # offset past EOF / truncated header -> None
    assert read_partition_header(buf, 10_000, b"abc") is None
    assert read_partition_header(buf, 7 + 17, b"zz") is not None
    buf2 = io.BytesIO(encode_partition_header(b"abc", 5, 9)[:-4])
    assert read_partition_header(buf2, 0, b"abc") is None


def _posix_only_sources():
    """Every source that reads by path on its tasks, with a call taking
    (spark, root). The check runs before any listing, so an s3a:// root
    never reaches a filesystem."""
    from cassandra_sstable_tools_spark.sources import (
        bloom,
        crc_db,
        data_cells,
        data_db,
        lookup,
        summary_db,
    )
    from cassandra_sstable_tools_spark.sources import sstable_binary as sb

    return {
        "partition_deletions": data_db.partition_deletions,
        "digest_checks": data_db.digest_checks,
        "crc_checks": crc_db.crc_checks,
        "bloom_checks": bloom.bloom_checks,
        "toc_checks": sb.toc_checks,
        "summary_entries": summary_db.summary_entries,
        "summary_bounds": summary_db.summary_bounds,
        "data_cells": data_cells.data_cells,
        "summary_checks": lookup.summary_checks,
        "point_read": lambda spark, root: lookup.point_read(
            spark, root, ["k"]
        ),
        "range_read": lambda spark, root: lookup.range_read(
            spark, root, "a", "b"
        ),
        "token_range_read": lambda spark, root: lookup.token_range_read(
            spark, root, 0, 1
        ),
    }


@pytest.mark.parametrize("source", sorted(_posix_only_sources()))
def test_non_posix_root_rejected(spark, source):
    """A path-reading source refuses a root pyarrow.fs cannot open (s3a
    is a Hadoop-only scheme) up front, and the message names the public
    function that was called."""
    with pytest.raises(ValueError, match=f"^{source} cannot open root"):
        _posix_only_sources()[source](spark, "s3a://bucket/data")


def test_live_partitions_produce_no_rows(spark, sf_dir):
    """Every emitted row must be a real tombstone: re-reading the fixture
    headers directly, LIVE partitions are the overwhelming majority and
    none of them may appear."""
    root = materialize_index_files(spark, sf_dir)
    rows = partition_deletions(spark, root).collect()
    assert rows, "fixture should contain partition deletions"
    for r in rows:
        assert (
            r["local_deletion_time"],
            r["marked_for_delete_at"],
        ) != (LIVE_LDT, LIVE_MFDA)


def test_compressed_sstables_included_via_lz4(spark, sf_dir):
    """v8: compressed sstables are read through the CompressionInfo chunk
    map + LZ4 decode, so their partition deletions MUST appear -- and the
    fixture must actually plant some (otherwise the coverage is vacuous)."""
    root = materialize_index_files(spark, sf_dir)
    comp_keys = set()
    for dp, _, fs in os.walk(root):
        for f in fs:
            if f.endswith("-CompressionInfo.db"):
                comp_keys.add((os.path.basename(dp), f.split("-")[1]))
    assert comp_keys, "fixture should plant compressed sstables"
    got_keys = {
        (r["table_name"], r["sstable_id"])
        for r in partition_deletions(spark, root).collect()
    }
    assert got_keys & comp_keys, (
        "no deletion decoded from any compressed sstable -- the LZ4 path "
        "is not actually being exercised"
    )


def test_deletions_come_from_the_file(spark, sf_dir, tmp_path):
    """Planted differential: copy the tree, overwrite ONE live partition's
    header with a tombstone, and the query output must move with the FILE."""
    root = materialize_index_files(spark, sf_dir)
    copy = str(tmp_path / "copy")
    shutil.copytree(root, copy)
    before = {
        (r["table_name"], r["sstable_id"], r["partition_key"])
        for r in partition_deletions(spark, root).collect()
    }
    # find an uncompressed sstable and a live indexed partition in it
    from cassandra_sstable_tools_spark.sources.sstable_binary import (
        stream_parse_index_db,
    )

    target = None
    for dp, _, fs in sorted((d, sorted(n), sorted(f)) for d, n, f in os.walk(copy)):
        for f in fs:
            if f.endswith("-Index.db") and not os.path.exists(
                os.path.join(dp, f.replace("-Index.db", "-CompressionInfo.db"))
            ) and os.path.exists(
                os.path.join(dp, f.replace("-Index.db", "-Data.db"))
            ):
                target = (dp, f)
                break
        if target:
            break
    assert target is not None
    dp, f = target
    ver = f.split("-")[0]
    data_path = os.path.join(dp, f.replace("-Index.db", "-Data.db"))
    table_name = os.path.basename(dp)
    ss = f.split("-")[1]
    with open(os.path.join(dp, f), "rb") as idx:
        chosen = None
        for key, position in stream_parse_index_db(idx, version=ver):
            k = (table_name, ss, key.decode())
            if k not in before:
                chosen = (key, position)
                break
    assert chosen is not None
    key, position = chosen
    with open(data_path, "r+b") as dat:
        # only flip if the header is really there (psize non-null region)
        got = read_partition_header(dat, position, key)
        assert got == (LIVE_LDT, LIVE_MFDA)
        dat.seek(position)
        dat.write(encode_partition_header(key, GC_BEFORE - 123, 777000000))
    after = {
        (r["table_name"], r["sstable_id"], r["partition_key"]): (
            r["local_deletion_time"], r["marked_for_delete_at"],
        )
        for r in partition_deletions(spark, copy).collect()
    }
    planted = (table_name, ss, key.decode())
    assert planted in after
    assert after[planted] == (GC_BEFORE - 123, 777000000)
    assert set(after) - {planted} == before


def test_query_matches_oracle(spark, sf_dir):
    """Scoped driver-flow check (value + int-vs-float dtype) against the
    DuckDB oracle; non-vacuous."""
    import duckdb
    import pandas as pd

    from cassandra_sstable_tools_spark.sources import data_db as m

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW lineitem AS SELECT * FROM "
        f"read_parquet('{os.path.join(sf_dir, 'lineitem')}.parquet')"
    )
    got = m.partition_deletions_cassdir(spark, sf_dir).toPandas()
    exp = con.execute(m.ORACLES["partition_deletions_cassdir"]).fetchdf()
    cols = sorted(got.columns)
    g = got[cols].sort_values(by=cols).reset_index(drop=True)
    e = exp[cols].sort_values(by=cols).reset_index(drop=True)
    pd.testing.assert_frame_equal(g, e, check_dtype=False, check_exact=True)
    assert len(g) > 0, "vacuous certificate"
    drift = [
        c for c in cols
        if pd.api.types.is_float_dtype(g[c])
        != pd.api.types.is_float_dtype(e[c])
    ]
    assert not drift, f"int-vs-float dtype drift {drift}"


def test_digest_detects_corruption(spark, sf_dir, tmp_path):
    """Flip one byte inside one Data.db in a copied tree: exactly that
    sstable's digest_ok must flip to False; everything else stays True."""
    from cassandra_sstable_tools_spark.sources.data_db import (
        digest_checks,
        file_crc32,
    )

    root = materialize_index_files(spark, sf_dir)
    copy = str(tmp_path / "copy")
    shutil.copytree(root, copy)
    baseline = {
        (r["table_name"], r["sstable_id"]): r["digest_ok"]
        for r in digest_checks(spark, copy).collect()
    }
    assert baseline and all(baseline.values())
    victim = sorted(
        os.path.join(dp, f)
        for dp, _, fs in os.walk(copy)
        for f in fs
        if f.endswith("-Data.db")
    )[0]
    with open(victim, "r+b") as f:
        f.seek(5)
        b = f.read(1)
        f.seek(5)
        f.write(bytes([b[0] ^ 0xFF]))
    after = {
        (r["table_name"], r["sstable_id"]): r["digest_ok"]
        for r in digest_checks(spark, copy).collect()
    }
    key = (os.path.basename(os.path.dirname(victim)),
           os.path.basename(victim).split("-")[1])
    assert after[key] is False
    assert all(ok for k, ok in after.items() if k != key)


def test_malformed_digest_file_is_loud(spark, sf_dir, tmp_path):
    from cassandra_sstable_tools_spark.sources.data_db import digest_checks

    root = materialize_index_files(spark, sf_dir)
    copy = str(tmp_path / "copy")
    shutil.copytree(root, copy)
    victim = sorted(
        os.path.join(dp, f)
        for dp, _, fs in os.walk(copy)
        for f in fs
        if f.endswith("-Digest.crc32")
    )[0]
    with open(victim, "w") as f:
        f.write("not-a-crc")
    with pytest.raises(Exception, match="not a decimal CRC"):
        digest_checks(spark, copy).collect()
