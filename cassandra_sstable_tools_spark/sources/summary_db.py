"""Summary.db (IndexSummary) reader + fixture-side encoder.

The last *sampling* component of a big-format sstable: Cassandra keeps
every ``minIndexInterval``-th Index.db entry (key + the entry's byte
offset IN THE INDEX FILE) in ``Summary.db`` so a point read
binary-searches ~keys/128 sampled entries in memory, seeks Index.db to
the sampled offset and scans at most one sampling interval of the index
instead of the whole file, then appends the sstable's FIRST and LAST
partition keys so range ownership checks never open the index at all.
The reference gets this for free by linking ``cassandra-all``
(``pom.xml:88-93`` — SSTableReader loads the summary on open); this module
implements the public big-format layout from scratch, with an independent
encoder so fixtures and tests never share parse code (SURVEY §5 playbook).

On-disk layout implemented (big format, "ma".."nc" families)::

    i32  minIndexInterval
    i32  size                      # sampled entry count
    i64  offheapSize               # 4*size (offsets) + entries bytes
    i32  samplingLevel             # BASE_SAMPLING_LEVEL = 128 when full
    i32  sizeAtFullSampling        # == size at samplingLevel 128
    size x i32  offsets            # entry i start, rebased: +4*size
                                   # (the deserializer subtracts the
                                   # offsets-section length; entry 0's
                                   # on-disk offset is exactly 4*size)
    entries                        # per entry: key bytes, i64 position
                                   # (position = the sampled entry's byte
                                   # offset in Index.db -- the seek target;
                                   # fixture v11 plants exactly that)
    i32-length-prefixed first key  # ByteBufferUtil.writeWithLength
    i32-length-prefixed last key

FORMAT-RISK NOTES (the honest caveats, same standard as the 'oa'
rejection note in SURVEY §2.9): the five header fields and the key
length prefixes are DataOutput big-endian for certain; the offsets
section and the per-entry position are raw ``Memory`` dumps in real
Cassandra, whose serialized byte order this environment cannot verify
against a real node (no network, no cassandra-all). This module writes
and reads them BIG-endian and leans on strict structural validation —
offsets must start at exactly 4*size and be strictly increasing within
bounds, positions must be non-negative and non-decreasing, the trailer
first key must equal sampled entry 0 — so a real file in a different
convention fails LOUD (little-endian ints of plausible offsets land far
out of bounds), never silently misparses. The planted-fixture
certificates are self-consistent either way; flip the two ``">i"``/
``">q"`` sites in ``encode_summary_db``/``parse_summary_db`` together if
a real file proves native order.

Scale shape: one read per Summary.db file, and a summary is ~keys/128
entries — KB-sized for a 100 GB sstable — so whole-buffer parse per read
is the right physical plan (unlike Index.db, which streams in chunks).
"""

from __future__ import annotations

import struct

from pyspark.sql import DataFrame, SparkSession

BASE_SAMPLING_LEVEL = 128

SUMMARY_ENTRIES_SCHEMA = (
    "keyspace string, table_name string, sstable_id string, "
    "summary_idx int, partition_key string, index_position bigint, "
    "min_index_interval int"
)

SUMMARY_BOUNDS_SCHEMA = (
    "keyspace string, table_name string, sstable_id string, "
    "first_key string, last_key string, entries int, "
    "min_index_interval int, sampling_level int"
)


# --------------------------------------------------------------------------
# Encode (fixture/test side)
# --------------------------------------------------------------------------


def encode_summary_db(
    index_entries: list[tuple[bytes, int]],
    min_index_interval: int = 4,
    sampling_level: int = BASE_SAMPLING_LEVEL,
) -> bytes:
    """Serialize the summary a real Cassandra would build for this index:
    every ``min_index_interval``-th entry of the FILE-ORDERED index, plus
    the first/last partition-key trailer.

    ``index_entries`` is (key, stored position) per FULL index entry, in
    file order (ascending position). The encoder is position-agnostic (it
    stores what it is given); REAL IndexSummary semantics — what fixture
    v11 plants via ``sstable_binary.index_offsets`` — store each entry's
    byte offset in Index.db, the seek target of a point read."""
    if min_index_interval < 1:
        raise ValueError(f"min_index_interval must be >=1: {min_index_interval}")
    if not index_entries:
        raise ValueError("cannot build a summary for an empty index")
    sampled = index_entries[::min_index_interval]
    n = len(sampled)
    offsets: list[int] = []
    entries = bytearray()
    for key, position in sampled:
        if position < 0:
            raise ValueError(f"negative index position {position}")
        offsets.append(4 * n + len(entries))
        entries += key
        entries += struct.pack(">q", position)
    out = bytearray()
    out += struct.pack(
        ">iiqii",
        min_index_interval,
        n,
        4 * n + len(entries),
        sampling_level,
        n if sampling_level == BASE_SAMPLING_LEVEL else n * BASE_SAMPLING_LEVEL // sampling_level,
    )
    out += struct.pack(f">{n}i", *offsets)
    out += entries
    first = index_entries[0][0]
    last = index_entries[-1][0]
    out += struct.pack(">i", len(first)) + first
    out += struct.pack(">i", len(last)) + last
    return bytes(out)


# --------------------------------------------------------------------------
# Parse (engine side) — written against the layout spec above, never
# against encode_summary_db's output shape (independent-encoder playbook)
# --------------------------------------------------------------------------


class ParsedSummary:
    __slots__ = (
        "min_index_interval",
        "sampling_level",
        "size_at_full_sampling",
        "entries",
        "first_key",
        "last_key",
    )

    def __init__(self, min_index_interval, sampling_level,
                 size_at_full_sampling, entries, first_key, last_key):
        self.min_index_interval = min_index_interval
        self.sampling_level = sampling_level
        self.size_at_full_sampling = size_at_full_sampling
        self.entries = entries  # list[(key_bytes, position)]
        self.first_key = first_key
        self.last_key = last_key


def parse_summary_db(buf: bytes, source: str = "<buf>") -> ParsedSummary:
    """Strict parse of one Summary.db; every violation names the file and
    offset (loud-corruption contract shared with the other component
    parsers)."""

    def fail(msg: str, off: int):
        raise ValueError(f"corrupt Summary.db {source}: {msg} at offset {off}")

    if len(buf) < 24:
        fail(f"header needs 24 bytes, file has {len(buf)}", 0)
    mii, n, offheap, lvl, full = struct.unpack_from(">iiqii", buf, 0)
    if mii < 1:
        fail(f"implausible minIndexInterval {mii}", 0)
    if not 0 < n <= 100_000_000:
        fail(f"implausible entry count {n}", 4)
    if not 1 <= lvl <= BASE_SAMPLING_LEVEL:
        fail(f"sampling level {lvl} outside [1, {BASE_SAMPLING_LEVEL}]", 16)
    off = 24
    if off + 4 * n > len(buf):
        fail(f"offsets section ({4 * n} bytes) runs past EOF", off)
    offsets = struct.unpack_from(f">{n}i", buf, off)
    off += 4 * n
    entries_end = 24 + offheap
    if offheap < 4 * n + 8 or entries_end > len(buf):
        fail(
            f"offheapSize {offheap} impossible for {n} entries in a "
            f"{len(buf)}-byte file",
            8,
        )
    if offsets[0] != 4 * n:
        # the single strongest tripwire for a byte-order mismatch: a
        # little-endian 4*n never equals a big-endian 4*n for n > 0
        # unless the file is byte-palindromic
        fail(f"entry 0 offset {offsets[0]} != offsets-section length {4 * n}", 24)
    entries: list[tuple[bytes, int]] = []
    prev_pos = -1
    for i in range(n):
        start = 24 + offsets[i]
        end = 24 + (offsets[i + 1] if i + 1 < n else offheap)
        if offsets[i] < 4 * n or end <= start + 8 or end > entries_end:
            fail(
                f"entry {i} span [{offsets[i]}, {end - 24}) invalid for "
                f"offheapSize {offheap}",
                24 + 4 * i,
            )
        key = buf[start : end - 8]
        (position,) = struct.unpack_from(">q", buf, end - 8)
        if position < 0 or position < prev_pos:
            fail(
                f"entry {i} position {position} not non-decreasing/non-negative",
                end - 8,
            )
        prev_pos = position
        entries.append((key, position))
    if entries[0][1] != 0:
        fail(f"entry 0 position {entries[0][1]} != 0", 24 + offsets[0])
    expected_full = (
        n if lvl == BASE_SAMPLING_LEVEL else n * BASE_SAMPLING_LEVEL // lvl
    )
    if full != expected_full:
        fail(f"sizeAtFullSampling {full} inconsistent with size {n} @ level {lvl}", 20)
    r = entries_end
    keys = []
    for what in ("first", "last"):
        if r + 4 > len(buf):
            fail(f"{what}-key length prefix runs past EOF", r)
        (klen,) = struct.unpack_from(">i", buf, r)
        r += 4
        if klen < 0 or r + klen > len(buf):
            fail(f"{what}-key length {klen} runs past EOF", r - 4)
        keys.append(buf[r : r + klen])
        r += klen
    if r != len(buf):
        fail(f"{len(buf) - r} trailing bytes after last key", r)
    first_key, last_key = keys
    if first_key != entries[0][0]:
        fail("trailer first key != sampled entry 0 key", entries_end)
    # NOTE: no byte-order sanity check between first and last key -- real
    # files sort by PARTITIONER order (murmur3 tokens), under which the
    # last key's raw bytes may legitimately sort below the first's; the
    # caller that knows the partitioner (lookup.key_decorator) is where
    # order-aware comparisons belong
    return ParsedSummary(mii, lvl, full, entries, first_key, last_key)


# --------------------------------------------------------------------------
# Distributed scans (one read per Summary.db; summaries are KB-sized)
# --------------------------------------------------------------------------


def _parsed_summary(sst) -> ParsedSummary:
    with sst.open("Summary.db") as f:
        return parse_summary_db(f.read(), source=sst.path("Summary.db"))


def summary_entries(
    spark: SparkSession, root: str, filenames=None, key_type: str | None = None
) -> DataFrame:
    """Every sampled (key, index_position) of every Summary.db under
    ``root``, entry-grain — the in-memory frame a point read
    binary-searches before seeking Index.db (sources/lookup.py does)."""
    from cassandra_sstable_tools_spark.sources.inventory import sstable_pass
    from cassandra_sstable_tools_spark.sources.sstable_binary import (
        key_renderer,
    )

    render = key_renderer(key_type)

    def scan(sst) -> list[tuple]:
        parsed = _parsed_summary(sst)
        return [
            (i, render(key), position, parsed.min_index_interval)
            for i, (key, position) in enumerate(parsed.entries)
        ]

    return sstable_pass(
        spark, "summary_entries", root, filenames, ("Summary.db",), scan,
        SUMMARY_ENTRIES_SCHEMA,
    )


def summary_bounds(
    spark: SparkSession, root: str, filenames=None, key_type: str | None = None
) -> DataFrame:
    """Per-sstable trailer view: first/last partition key (the range-
    ownership answer that never opens Index.db) + sampling metadata."""
    from cassandra_sstable_tools_spark.sources.inventory import sstable_pass
    from cassandra_sstable_tools_spark.sources.sstable_binary import (
        key_renderer,
    )

    render = key_renderer(key_type)

    def scan(sst) -> list[tuple]:
        parsed = _parsed_summary(sst)
        return [(
            render(parsed.first_key), render(parsed.last_key),
            len(parsed.entries), parsed.min_index_interval,
            parsed.sampling_level,
        )]

    return sstable_pass(
        spark, "summary_bounds", root, filenames, ("Summary.db",), scan,
        SUMMARY_BOUNDS_SCHEMA,
    )


# --------------------------------------------------------------------------
# Staged queries (r09 registration; see SURVEY §2.9 staging note).
# Tested against their oracles locally by tests/test_staged_queries.py —
# NOT collected by queries/registry.py this round: the r08 window is at
# exactly its ≥42-r05-recertification floor, so one more registration
# would displace a certificate the r07 VERDICT (#2) ordered kept.
# --------------------------------------------------------------------------

FIXTURE_MIN_INDEX_INTERVAL = 4


def summary_component_cassdir(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entry-grain certificate: the fixture writes the summary a real
    Cassandra would build (every 4th file-ordered index entry, storing the
    entry's INDEX-FILE offset), so the oracle predicts every (summary_idx,
    key, index_position) row straight from the parquet index by byte-
    pricing each Index.db entry in SQL (u16 + key + position vint +
    promoted-size vint + promoted filler) and prefix-summing — a wrong
    stride, a dropped entry, a misread offset, a byte-swapped position or
    an entry-size drift in the index encoder all fail the hash."""
    from cassandra_sstable_tools_spark.sources.sstable_binary import (
        materialize_index_files,
    )

    root = materialize_index_files(spark, sf_dir)
    return summary_entries(spark, root)


def summary_bounds_cassdir(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailer certificate: first/last key per sstable must equal the
    parquet min/max partition key (file order IS key order), entry count
    must equal ceil(keys/4)."""
    from cassandra_sstable_tools_spark.sources.sstable_binary import (
        materialize_index_files,
    )

    root = materialize_index_files(spark, sf_dir)
    return summary_bounds(spark, root)


def _oracle_summary_entries_tail() -> str:
    """SQL replay of ``sstable_binary.index_offsets`` over the adapter's
    index_entries: each entry costs u16(2) + key bytes + vint(position) +
    vint(promoted len) + promoted len, with promoted len =
    (7*len(key) + position) % 23 (< 23, so its vint is 1 byte); an
    entry's index offset is the prefix sum of its predecessors' costs."""
    from cassandra_sstable_tools_spark.sources.data_cells import _vlen_sql

    entry_bytes = (
        f"2 + strlen(partition_key) + {_vlen_sql('position')} + 1 "
        f"+ (strlen(partition_key) * 7 + position) % 23"
    )
    return f"""
, ient AS (
    SELECT keyspace, table_name, sstable_id, partition_key,
           row_number() OVER (
               PARTITION BY keyspace, table_name, sstable_id
               ORDER BY position
           ) - 1 AS rn,
           {entry_bytes} AS entry_bytes
    FROM index_entries
),
samp AS (
    SELECT keyspace, table_name, sstable_id, partition_key, rn,
           CAST(coalesce(sum(entry_bytes) OVER (
               PARTITION BY keyspace, table_name, sstable_id
               ORDER BY rn
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
           ), 0) AS BIGINT) AS index_position
    FROM ient
)
SELECT keyspace, table_name, sstable_id,
       CAST(floor(rn / 4) AS INT) AS summary_idx,
       partition_key, index_position,
       CAST(4 AS INT) AS min_index_interval
FROM samp
WHERE rn % 4 = 0
"""

_ORACLE_SUMMARY_BOUNDS_TAIL = """
SELECT keyspace, table_name, sstable_id,
       min(partition_key) AS first_key,
       max(partition_key) AS last_key,
       CAST(floor((count(*) + 3) / 4) AS INT) AS entries,
       CAST(4 AS INT) AS min_index_interval,
       CAST(128 AS INT) AS sampling_level
FROM index_entries
GROUP BY 1, 2, 3
"""


def _staged():
    from cassandra_sstable_tools_spark.oracles import with_adapter

    return (
        {
            "summary_component_cassdir": summary_component_cassdir,
            "summary_bounds_cassdir": summary_bounds_cassdir,
        },
        {
            "summary_component_cassdir": with_adapter(
                _oracle_summary_entries_tail()
            ),
            "summary_bounds_cassdir": with_adapter(_ORACLE_SUMMARY_BOUNDS_TAIL),
        },
    )


QUERIES, ORACLES = _staged()
