"""CRC.db (per-chunk checksum) reader + fixture-side encoder.

Uncompressed big-format sstables carry ``CRC.db``: the chunk length, then
one CRC32 per fixed-size chunk of Data.db (compressed sstables don't need
it — their per-chunk checksums live inline after each LZ4 chunk, already
verified by ``sources/lz4_block.py``; ``Digest.crc32`` covers the whole
file either way but can't LOCALIZE damage). The reference gets chunk
verification via ``cassandra-all`` (``pom.xml:88-93``); this module
implements the public layout from scratch with an independent encoder
(SURVEY §5 playbook).

On-disk layout implemented (big format)::

    i32  chunkLength               # bytes of Data.db covered per CRC
    N x i32  crc32                 # one per chunk, last chunk short;
                                   # Java writeInt of the CRC32 value
                                   # (the same 4 bytes as unsigned BE)

N is implicit: (len(file) - 4) / 4, and must equal
ceil(data_length / chunkLength) — validated against the actual Data.db.

Scale shape: one read per sstable, streaming chunk-at-a-time reads —
task memory is one chunk (64 KB default) regardless of Data.db size,
same bound as the digest scan.
"""

from __future__ import annotations

import struct
import zlib

from pyspark.sql import DataFrame, SparkSession

DEFAULT_CHUNK_LENGTH = 65536

CRC_CHECK_SCHEMA = (
    "keyspace string, table_name string, sstable_id string, "
    "chunk_length int, chunks int, matched int, crc_ok boolean"
)


# --------------------------------------------------------------------------
# Encode (fixture/test side)
# --------------------------------------------------------------------------


def encode_crc_db(data_path: str, chunk_length: int = DEFAULT_CHUNK_LENGTH) -> bytes:
    """Compute the real per-chunk CRCs of an on-disk Data.db."""
    if chunk_length < 1:
        raise ValueError(f"chunk_length must be >=1: {chunk_length}")
    out = bytearray(struct.pack(">i", chunk_length))
    with open(data_path, "rb") as f:
        while True:
            chunk = f.read(chunk_length)
            if not chunk:
                break
            out += struct.pack(">I", zlib.crc32(chunk) & 0xFFFFFFFF)
    return bytes(out)


# --------------------------------------------------------------------------
# Parse (engine side)
# --------------------------------------------------------------------------


def parse_crc_db(buf: bytes, source: str = "<buf>") -> tuple[int, list[int]]:
    """-> (chunk_length, [crc32 per chunk]); loud on any structural
    violation."""
    if len(buf) < 4:
        raise ValueError(
            f"corrupt CRC.db {source}: header needs 4 bytes, file has {len(buf)}"
        )
    (chunk_length,) = struct.unpack_from(">i", buf, 0)
    if not 0 < chunk_length <= 1 << 30:
        raise ValueError(
            f"corrupt CRC.db {source}: implausible chunk length {chunk_length}"
        )
    body = len(buf) - 4
    if body % 4 != 0:
        raise ValueError(
            f"corrupt CRC.db {source}: CRC section is {body} bytes, not a "
            "multiple of 4"
        )
    crcs = list(struct.unpack_from(f">{body // 4}I", buf, 4))
    return chunk_length, crcs


# --------------------------------------------------------------------------
# Distributed scan
# --------------------------------------------------------------------------


def crc_checks(spark: SparkSession, root: str, filenames=None) -> DataFrame:
    """Per-sstable chunk verification for every sstable with BOTH a CRC.db
    and a Data.db: recompute each chunk's CRC32 and count matches. Unlike
    the whole-file digest, a mismatch here names HOW MUCH of the file is
    damaged (matched of chunks). The stored chunk count must equal
    ceil(data_length / chunk_length) or the row fails loud — a truncated
    Data.db can't masquerade as having fewer chunks."""
    from cassandra_sstable_tools_spark.sources.inventory import sstable_pass

    def check(sst) -> list[tuple]:
        path = sst.path("CRC.db")
        with sst.open("CRC.db") as f:
            chunk_length, crcs = parse_crc_db(f.read(), source=path)
        if "Data.db" not in sst.components:
            raise ValueError(f"CRC.db without sibling Data.db: {path}")
        data_len = sst.length("Data.db")
        expected_chunks = (data_len + chunk_length - 1) // chunk_length
        if expected_chunks != len(crcs):
            raise ValueError(
                f"corrupt CRC.db {path}: {len(crcs)} CRCs for a "
                f"{data_len}-byte Data.db at chunk length "
                f"{chunk_length} (expected {expected_chunks})"
            )
        matched = 0
        with sst.open("Data.db") as f:
            for stored in crcs:
                chunk = f.read(chunk_length)
                if (zlib.crc32(chunk) & 0xFFFFFFFF) == stored:
                    matched += 1
        return [(chunk_length, len(crcs), matched, matched == len(crcs))]

    return sstable_pass(
        spark, "crc_checks", root, filenames, ("CRC.db",), check,
        CRC_CHECK_SCHEMA,
    )


# --------------------------------------------------------------------------
# Staged query (r09 registration; see SURVEY §2.9 staging note)
# --------------------------------------------------------------------------


def crc_check_cassdir(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Certified wrapper over the planted tree: the fixture writes real
    per-chunk CRCs beside every UNCOMPRESSED Data.db, so the oracle
    expects crc_ok=TRUE with the exact formula-predicted chunk count for
    exactly the uncompressed physically-present sstables. The
    flip-one-byte differential (damage localized to one chunk) lives in
    tests."""
    from cassandra_sstable_tools_spark.sources.sstable_binary import (
        materialize_index_files,
    )

    root = materialize_index_files(spark, sf_dir)
    return crc_checks(spark, root)


_ORACLE_CRC_TAIL = """
SELECT keyspace, table_name, sstable_id,
       CAST(65536 AS INT) AS chunk_length,
       CAST(floor((uncompressed_length + 65535) / 65536) AS INT) AS chunks,
       CAST(floor((uncompressed_length + 65535) / 65536) AS INT) AS matched,
       TRUE AS crc_ok
FROM sstables_meta
WHERE uncompressed_length IS NOT NULL AND NOT ({PARITY})
"""


def _staged():
    from cassandra_sstable_tools_spark.oracles import with_adapter
    from cassandra_sstable_tools_spark.sources.sstable_binary import (
        compressed_parity_sql,
    )

    return (
        {"crc_check_cassdir": crc_check_cassdir},
        {
            "crc_check_cassdir": with_adapter(
                _ORACLE_CRC_TAIL.format(
                    PARITY=compressed_parity_sql("sstables_meta")
                )
            )
        },
    )


QUERIES, ORACLES = _staged()
