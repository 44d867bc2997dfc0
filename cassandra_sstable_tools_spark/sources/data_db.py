"""Data.db partition-header ingestion -- partition-level deletions from
REAL data files.

The PARTITION-grain subset of the Data.db surface (the CELL grain lives
in sources/data_cells.py since r08): every partition block in the "big"
format starts with

    [u16 BE key length][key bytes]        # ByteBufferUtil.writeWithShortLength
    [int localDeletionTime][long markedForDeleteAt]   # DeletionTime.serializer

and Index.db gives the absolute offset of every partition
(IndexReader.java:77-113), so partition-level deletion state -- the
reference's PARTITION_DELETE records (PartitionReader.java, purge's
partition-tombstone handling) -- is a seek-and-read away, no cell codec
required. ``DeletionTime.LIVE`` is (Integer.MAX_VALUE, Long.MIN_VALUE);
anything else is a partition tombstone.

Scope limits, by design and documented:
- COMPRESSED sstables read through the CompressionInfo.db chunk map and
  the pure-Python LZ4 block decoder (sources/lz4_block.py) -- v8 closed
  the former uncompressed-only scope.
- Any root the shared inventory can open (a POSIX directory, or a
  ``pyarrow.fs`` filesystem such as ``s3://``): the access pattern is
  point seeks through the sstable handle, so no file is shipped whole.
- Every seek VERIFIES the key at the offset against the Index.db key and
  skips silently on mismatch -- the one legitimate mismatch source is a
  zero-length partition sharing its offset with its successor (dirty
  metadata), and a real reader performs the same sanity check.

Spark shape / 100 TB notes: one read per sstable (the shared
``inventory.sstable_pass``); per sstable the work is O(#partitions) point
reads at ~26 bytes each -- IO-bound on seeks, no contents ever shipped
whole.
Output is partition-tombstone rows only (rare grain), always small.
"""

from __future__ import annotations

import struct

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cassandra_sstable_tools_spark.sources.sstable_binary import (
    render_key,
    stream_parse_index_db,
)

# DeletionTime.LIVE: (localDeletionTime=Integer.MAX_VALUE,
#                     markedForDeleteAt=Long.MIN_VALUE)
LIVE_LDT = 2_147_483_647
LIVE_MFDA = -(1 << 63)


def encode_partition_header(
    key: bytes, ldt: int = LIVE_LDT, mfda: int = LIVE_MFDA
) -> bytes:
    """[u16 key][key bytes][int ldt][long markedForDeleteAt] -- the fixed
    prefix of every big-format partition block (fixture writer half)."""
    if len(key) > 0xFFFF:
        raise ValueError("partition key exceeds u16 length prefix")
    return len(key).to_bytes(2, "big") + key + struct.pack(">iq", ldt, mfda)


def read_partition_header(
    fobj, position: int, expect_key: bytes
) -> tuple[int, int] | None:
    """Seek ``position``, verify the key, return (ldt, markedForDeleteAt);
    None when the key does not match (shared-offset dirty-metadata case)
    or the header runs past EOF."""
    fobj.seek(position)
    pre = fobj.read(2)
    if len(pre) < 2:
        return None
    klen = int.from_bytes(pre, "big")
    if klen != len(expect_key):
        return None
    buf = fobj.read(klen + 12)
    if len(buf) < klen + 12 or buf[:klen] != expect_key:
        return None
    ldt, mfda = struct.unpack(">iq", buf[klen : klen + 12])
    return ldt, mfda


PARTITION_DELETIONS_SCHEMA = (
    "keyspace string, table_name string, sstable_id string, "
    "partition_key string, local_deletion_time bigint, "
    "marked_for_delete_at bigint"
)


def partition_deletions(
    spark: SparkSession, root: str, filenames=None
) -> DataFrame:
    """Partition-tombstone rows read straight from Data.db partition
    headers (offsets from the sibling Index.db; compressed sstables read
    through the CompressionInfo chunk map + LZ4 block decode -- v8 closed
    the former uncompressed-only scope). LIVE partitions produce no row."""
    from cassandra_sstable_tools_spark.sources.inventory import sstable_pass
    from cassandra_sstable_tools_spark.sources.lz4_block import (
        open_sstable_data,
    )

    def scan(sst) -> list[tuple]:
        rows = []
        dat, _ = open_sstable_data(sst)
        try:
            with sst.open("Index.db") as idx:
                for key, position in stream_parse_index_db(
                    idx, version=sst.version, source=sst.path("Index.db")
                ):
                    got = read_partition_header(dat, position, key)
                    if got is None or got == (LIVE_LDT, LIVE_MFDA):
                        continue
                    rows.append((render_key(key), *got))
        finally:
            dat.close()
        return rows

    return sstable_pass(
        spark, "partition_deletions", root, filenames,
        ("Index.db", "Data.db"), scan, PARTITION_DELETIONS_SCHEMA,
    )


# --------------------------------------------------------------------------
# Fixture derivation + registered query
# --------------------------------------------------------------------------


def fixture_partition_headers(spark: SparkSession, sf_dir: str) -> dict:
    """(ks, tb, ss) -> {partition_key: (ldt, markedForDeleteAt)} for the
    DELETED partitions; every other indexed partition gets LIVE. The
    deletion is the max-timestamp PARTITION_DELETE record of the partition
    (max writetime as markedForDeleteAt micros, max local_deletion_time),
    mirroring Cassandra keeping the newest partition deletion. Rows whose
    writetime or ldt is NULL cannot be encoded and are excluded (the
    oracle mirrors with the same null filters)."""
    from cassandra_sstable_tools_spark.sources import tpch_adapter

    cells = tpch_adapter.cells(spark, sf_dir)
    out: dict[tuple, dict] = {}
    for r in (
        cells.where(F.col("kind") == "PARTITION_DELETE")
        .groupBy("keyspace", "table_name", "sstable_id", "partition_key")
        .agg(
            F.max("local_deletion_time").alias("ldt"),
            F.max("writetime").alias("mfda"),
        )
        .where(F.col("ldt").isNotNull() & F.col("mfda").isNotNull())
        .collect()
    ):
        out.setdefault(
            (r["keyspace"], r["table_name"], r["sstable_id"]), {}
        )[r["partition_key"]] = (int(r["ldt"]), int(r["mfda"]))
    return out


def partition_deletions_cassdir(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Certified wrapper over the planted fixture tree, with the
    droppability verdict added at the SQL layer (strict < GC_BEFORE,
    the engine-wide purge contract)."""
    from cassandra_sstable_tools_spark.constants import GC_BEFORE
    from cassandra_sstable_tools_spark.sources.sstable_binary import (
        materialize_index_files,
    )

    root = materialize_index_files(spark, sf_dir)
    return partition_deletions(spark, root).withColumn(
        "droppable", F.col("local_deletion_time") < F.lit(GC_BEFORE)
    )


# physically present (non-null length -- COMPRESSED sstables included
# since v8: the reader goes through the chunk map + LZ4 decode), partition
# physically sized (non-null psize: a zero-length partition shares its
# offset with its successor and its header is neither written nor
# key-verifiable)
_ORACLE_TAIL = """
SELECT c.keyspace, c.table_name, c.sstable_id, c.partition_key,
       CAST(max(c.local_deletion_time) AS BIGINT) AS local_deletion_time,
       CAST(max(c.writetime) AS BIGINT) AS marked_for_delete_at,
       max(c.local_deletion_time) < {GC_BEFORE} AS droppable
FROM cells c
JOIN sstables_meta s USING (keyspace, table_name, sstable_id)
JOIN per_part p USING (keyspace, table_name, sstable_id, partition_key)
WHERE c.kind = 'PARTITION_DELETE'
  AND s.uncompressed_length IS NOT NULL
  AND p.psize IS NOT NULL
GROUP BY 1, 2, 3, 4
HAVING max(c.local_deletion_time) IS NOT NULL
   AND max(c.writetime) IS NOT NULL
"""





# --------------------------------------------------------------------------
# Digest.crc32: whole-file integrity verification
# --------------------------------------------------------------------------
#
# The big format ships a Digest.crc32 component per sstable: the CRC32 of
# the Data.db file AS ON DISK (compressed bytes if compressed), serialized
# as an ASCII decimal string. Recomputing it is how Cassandra's own
# verification detects bit rot; a directory analytics tool should be able
# to answer "is this sstable intact?" without a running cluster.

_CRC_CHUNK = 8 << 20  # bounded memory regardless of Data.db size


def file_crc32(path: str, chunk_bytes: int = _CRC_CHUNK) -> int:
    with open(path, "rb") as f:
        return stream_crc32(f, chunk_bytes)


def stream_crc32(f, chunk_bytes: int = _CRC_CHUNK) -> int:
    """CRC32 of everything ``f`` has left to read, in bounded memory."""
    import zlib

    crc = 0
    while True:
        chunk = f.read(chunk_bytes)
        if not chunk:
            return crc & 0xFFFFFFFF
        crc = zlib.crc32(chunk, crc)


DIGEST_SCHEMA = (
    "keyspace string, table_name string, sstable_id string, "
    "digest_ok boolean"
)


def digest_checks(spark: SparkSession, root: str, filenames=None) -> DataFrame:
    """(sstable, digest_ok) for every sstable with BOTH a Data.db and a
    Digest.crc32: recompute the file CRC32 in bounded-memory chunks and
    compare with the stored digest. One read per sstable; the whole
    Data.db is read (that is what verification means), contents never
    shipped -- each read reduces its file to one boolean. A malformed
    digest file is loud (it means corruption too)."""
    from cassandra_sstable_tools_spark.sources.inventory import sstable_pass

    def check(sst) -> list[tuple]:
        with sst.open("Digest.crc32") as f:
            text = f.read(64).decode("ascii", "replace").strip()
        if not text.isdigit():
            raise ValueError(
                f"corrupt Digest.crc32 {sst.path('Digest.crc32')}: not a "
                f"decimal CRC ({text[:20]!r})"
            )
        with sst.open("Data.db") as f:
            return [(stream_crc32(f) == int(text),)]

    return sstable_pass(
        spark, "digest_checks", root, filenames, ("Digest.crc32", "Data.db"),
        check, DIGEST_SCHEMA,
    )


def digest_check_cassdir(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Certified wrapper over the planted fixture tree (which writes a
    correct Digest.crc32 beside every Data.db): the oracle expects
    digest_ok=TRUE for exactly the physically-present sstables, so a wrong
    CRC recompute, a wrong digest parse, or a misattributed file all fail
    the hash; the corruption differential lives in tests."""
    from cassandra_sstable_tools_spark.sources.sstable_binary import (
        materialize_index_files,
    )

    root = materialize_index_files(spark, sf_dir)
    return digest_checks(spark, root)


_ORACLE_DIGEST_TAIL = """
SELECT keyspace, table_name, sstable_id, TRUE AS digest_ok
FROM sstables_meta
WHERE uncompressed_length IS NOT NULL
"""


def _oracles() -> dict[str, str]:
    from cassandra_sstable_tools_spark.constants import GC_BEFORE
    from cassandra_sstable_tools_spark.oracles import with_adapter

    return {
        "partition_deletions_cassdir": with_adapter(
            _ORACLE_TAIL.format(
                GC_BEFORE=GC_BEFORE
            )
        ),
        "digest_check_cassdir": with_adapter(_ORACLE_DIGEST_TAIL),
    }


QUERIES = {
    "partition_deletions_cassdir": partition_deletions_cassdir,
    "digest_check_cassdir": digest_check_cassdir,
}
ORACLES = _oracles()
