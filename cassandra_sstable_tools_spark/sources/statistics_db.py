"""Binary Statistics.db ingestion -- SSTable metadata from REAL files.

Closes the last documented ``--cassandra-dir`` gap (SURVEY.md S3 row): the
per-sstable metadata the reference surfaces through Cassandra's own reader
(``CassandraBackend.java:89-124`` -> ``cli/SSTableMetadataCollector.java:40-90``:
min/max timestamp, deletion times, level, repairedAt, partition-size and
column-count histograms, droppable tombstones) all lives in the sstable's
``Statistics.db`` component. This module reads that component directly, from
public knowledge of the Apache Cassandra "big" format (the
``MetadataSerializer`` / ``StatsMetadata`` / ``EstimatedHistogram`` /
``StreamingHistogram`` wire formats), so the directory-only ``sstables``
listing reaches full reference parity.

File layout (Apache Cassandra ``MetadataSerializer``; Java DataOutput
primitives, all big-endian):

    [int component count]
    count * [int type ordinal][int absolute offset]      # the TOC
    (4.0+ formats append CRC32 ints after the TOC and after each
     component; the TOC offsets already account for them)
    ... components at their offsets ...

Component type ordinals: VALIDATION=0, COMPACTION=1, STATS=2, HEADER=3.

The parser is OFFSET-DRIVEN: it reads the TOC and parses each component
from its absolute offset. That makes checksum ints (and any other
between-component bytes a format revision introduces) transparent -- we
never assume what sits between components, only that the TOC offsets are
absolute, which has held for every released big-format version.

ValidationMetadata:   writeUTF(partitioner class) + double(bloomFilterFP)
CompactionMetadata:   int length + cardinality-estimator bytes (opaque)
StatsMetadata ("ma".."nc" big formats; field order from
``StatsMetadata.serializer.serialize``):

    EstimatedHistogram  estimatedPartitionSize
    EstimatedHistogram  estimatedCellPerPartitionCount
    long+int            commitLogUpperBound (segmentId, position)
    long,long           minTimestamp, maxTimestamp        (microseconds)
    int,int             minLocalDeletionTime, maxLocalDeletionTime
    int,int             minTTL, maxTTL
    double              compressionRatio  (-1.0 = uncompressed sentinel)
    StreamingHistogram  estimatedTombstoneDropTime
    int                 sstableLevel
    long                repairedAt        (0 = unrepaired, ms epoch)
    int n, n*[u16+buf]  minClusteringValues
    int n, n*[u16+buf]  maxClusteringValues
    bool                hasLegacyCounterShards
    long,long           totalColumnsSet, totalRows
    >= "mb":            commitLogLowerBound (long+int)
    >= "mc":            commitLogIntervals (int n, n*2 positions)
    >= "na":            pendingRepair (byte present [+16B UUID]),
                        isTransient (bool)
    "me" (3.11) / >= "nc" (4.1): originatingHostId (byte [+16B UUID])

Version-support caveat, stated honestly: the 4.1 "nc" layout is parsed
with the legacy min/maxClusteringValues shape above; the reshaped
"covered clustering" slice encoding is known to land in 5.0 ("oa",
rejected by name). If "nc" turns out to carry any layout drift, the
strict guards below (bounded counts, 0/1-validated boolean and presence
bytes) turn the misalignment into a loud per-file ValueError rather than
quiet garbage -- verify against a real 4.1 directory before trusting
"nc" at scale.

EstimatedHistogram wire quirk (``EstimatedHistogram.serializer``): writes
``int n`` then ``n`` pairs of ``(long offset, long count)`` where pair i
carries ``offsets[max(0, i-1)]`` -- the first pair's offset is a duplicate
of offsets[0] and is DISCARDED on read; buckets has length n, offsets
length n-1, and buckets[n-1] is the overflow bucket. mean()/max() replicate
Cassandra's methods bit-for-bit:

    mean = ceil( sum(buckets[i] * offsets[i], i < n-1)
                 / sum(buckets[i], i < n-1) )         (0 when empty)
    max  = 2^63-1 if overflow bucket > 0
           else offsets[largest i < n-1 with buckets[i] > 0]  (0 if none)

StreamingHistogram: ``int maxBinSize, int size`` then size pairs of
``(double point, long count)``. Droppable tombstones replicate
``SSTableReader.getDroppableTombstonesBefore``: sum of counts with
point < gcBefore.

Spark shape / 100 TB notes: Statistics.db is a few KB per sstable
regardless of data size, so the scan is directory-listing-shaped --
one whole-file read per sstable in the shared per-sstable pass
(``inventory.sstable_pass``), 1 output row per sstable, always
broadcast-able downstream. Parsing is loud on corruption (ValueError
naming file and offset), same contract as the Index.db reader.

The encoder half exists so tests and fixtures can plant real binary files
(the Index.db / PNG playbook: independent in-test encoder, fuzz
round-trip, planted differentials).
"""

from __future__ import annotations

import math
import struct
import zlib
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cassandra_sstable_tools_spark.sources.sstable_binary import (
    _read_java_utf,
    _write_java_utf,
    read_unsigned_vint,
    write_unsigned_vint,
)

_TYPE_VALIDATION = 0
_TYPE_COMPACTION = 1
_TYPE_STATS = 2
_TYPE_HEADER = 3

# commitLogUpperBound sentinel: CommitLogPosition.NONE = (-1, 0)
_CLP_NONE = (-1, 0)

_LONG_MAX = (1 << 63) - 1


def _check_supported_version(version: str, source: str) -> None:
    """Supported StatsMetadata layouts: the 3.x ("m*") and 4.x ("n*") big
    format families. Anything else fails LOUD by name: pre-3.0 layouts
    differ structurally, and 5.0+ ("oa", BTI "da") reshaped the clustering
    fields -- a quiet misparse would be worse than an error."""
    if not version or version[0] not in ("m", "n"):
        raise ValueError(
            f"unsupported Statistics.db format version {version!r} "
            f"({source}; supported: 3.x/4.x big formats ma..nc -- pre-3.0, "
            "5.0+ 'oa' and BTI 'da' layouts differ structurally)"
        )


def _has_checksum(version: str) -> bool:
    """4.0+ big formats checksum the TOC and each component."""
    return version >= "na"


def _has_commit_log_lower_bound(version: str) -> bool:
    return version >= "mb"


def _has_commit_log_intervals(version: str) -> bool:
    return version >= "mc"


def _has_pending_repair(version: str) -> bool:
    return version >= "na"


def _has_originating_host_id(version: str) -> bool:
    # 3.11 gained it in "me"; the 4.x line only in "nc" (4.1)
    return ("me" <= version < "n") or version >= "nc"


# --------------------------------------------------------------------------
# Stats payload: one plain record both halves share
# --------------------------------------------------------------------------


@dataclass
class SSTableStats:
    """Deserialized StatsMetadata + ValidationMetadata, engine-facing."""

    partitioner: str = "org.apache.cassandra.dht.Murmur3Partitioner"
    bloom_fp_chance: float = 0.01
    # exact (value, count) pairs; the overflow bucket is implicit (0)
    partition_size_hist: list[tuple[int, int]] = field(default_factory=list)
    column_count_hist: list[tuple[int, int]] = field(default_factory=list)
    min_timestamp: int = 0
    max_timestamp: int = 0
    min_local_deletion_time: int = 2_147_483_647
    max_local_deletion_time: int = 2_147_483_647
    min_ttl: int = 0
    max_ttl: int = 0
    compression_ratio: float = -1.0
    tombstone_hist: list[tuple[float, int]] = field(default_factory=list)
    level: int = 0
    repaired_at: int = 0
    min_clustering: list[bytes] = field(default_factory=list)
    max_clustering: list[bytes] = field(default_factory=list)
    has_legacy_counter_shards: bool = False
    total_columns_set: int = 0
    total_rows: int = 0
    is_transient: bool = False


def estimated_histogram_mean(pairs: list[tuple[int, int]]) -> int:
    """Cassandra ``EstimatedHistogram.mean()`` over deserialized
    (offset, count) pairs (overflow bucket excluded): ceil of the
    count-weighted offset mean, 0 when empty. Double division on purpose --
    the DuckDB oracle's ``ceil(sum/count)`` does the same IEEE arithmetic."""
    elements = sum(c for _, c in pairs)
    if elements == 0:
        return 0
    return math.ceil(sum(v * c for v, c in pairs) / elements)


def estimated_histogram_max(
    pairs: list[tuple[int, int]], overflow: int = 0
) -> int:
    """Cassandra ``EstimatedHistogram.max()``: Long.MAX_VALUE when the
    overflow bucket is non-empty, else the largest offset with a non-zero
    count, else 0."""
    if overflow > 0:
        return _LONG_MAX
    return max((v for v, c in pairs if c > 0), default=0)


def droppable_before(pairs: list[tuple[float, int]], gc_before: int) -> int:
    """``SSTableReader.getDroppableTombstonesBefore``: histogram mass with
    point strictly below gcBefore (the engine-wide strict ``<`` contract,
    constants.GC_BEFORE)."""
    return sum(c for p, c in pairs if p < gc_before)


# --------------------------------------------------------------------------
# Encode (fixture/test side)
# --------------------------------------------------------------------------


def _enc_estimated_histogram(pairs: list[tuple[int, int]]) -> bytes:
    """Serialize (value, count) pairs + a zero overflow bucket with the
    offsets[max(0, i-1)] pairing quirk."""
    pairs = sorted(pairs)
    offsets = [v for v, _ in pairs]
    buckets = [c for _, c in pairs] + [0]  # trailing overflow bucket
    if not offsets:
        offsets = [0]  # n=1: the lone overflow bucket still needs an offset
    out = bytearray(struct.pack(">i", len(buckets)))
    for i, count in enumerate(buckets):
        out += struct.pack(">qq", offsets[max(0, i - 1)], count)
    return bytes(out)


def _enc_streaming_histogram(pairs: list[tuple[float, int]]) -> bytes:
    pairs = sorted(pairs)
    out = bytearray(struct.pack(">ii", max(len(pairs), 1), len(pairs)))
    for point, count in pairs:
        out += struct.pack(">dq", float(point), count)
    return bytes(out)


def _enc_clustering(values: list[bytes]) -> bytes:
    out = bytearray(struct.pack(">i", len(values)))
    for v in values:
        if len(v) > 0xFFFF:
            raise ValueError("clustering value exceeds u16 length prefix")
        out += struct.pack(">H", len(v)) + v
    return bytes(out)


def encode_validation_metadata(stats: SSTableStats) -> bytes:
    return _write_java_utf(stats.partitioner) + struct.pack(
        ">d", stats.bloom_fp_chance
    )


def encode_compaction_metadata(seed: int = 0) -> bytes:
    """int length + opaque cardinality-estimator bytes (a deterministic
    filler standing in for the HyperLogLogPlus blob, which the stats
    analytics never read)."""
    blob = bytes((seed + i * 37) & 0xFF for i in range(16))
    return struct.pack(">i", len(blob)) + blob


def encode_stats_metadata(stats: SSTableStats, version: str) -> bytes:
    out = bytearray()
    out += _enc_estimated_histogram(stats.partition_size_hist)
    out += _enc_estimated_histogram(stats.column_count_hist)
    out += struct.pack(">qi", *_CLP_NONE)  # commitLogUpperBound
    out += struct.pack(">qq", stats.min_timestamp, stats.max_timestamp)
    out += struct.pack(
        ">ii", stats.min_local_deletion_time, stats.max_local_deletion_time
    )
    out += struct.pack(">ii", stats.min_ttl, stats.max_ttl)
    out += struct.pack(">d", stats.compression_ratio)
    out += _enc_streaming_histogram(stats.tombstone_hist)
    out += struct.pack(">i", stats.level)
    out += struct.pack(">q", stats.repaired_at)
    out += _enc_clustering(stats.min_clustering)
    out += _enc_clustering(stats.max_clustering)
    out += struct.pack(">?", stats.has_legacy_counter_shards)
    out += struct.pack(">qq", stats.total_columns_set, stats.total_rows)
    if _has_commit_log_lower_bound(version):
        out += struct.pack(">qi", *_CLP_NONE)
    if _has_commit_log_intervals(version):
        out += struct.pack(">i", 0)  # empty interval set
    if _has_pending_repair(version):
        out += struct.pack(">b", 0)  # no pending repair
        out += struct.pack(">?", stats.is_transient)
    if _has_originating_host_id(version):
        out += struct.pack(">b", 0)  # no originating host id
    return bytes(out)


# --------------------------------------------------------------------------
# SerializationHeader component (TOC type 3): the schema the Data.db cell
# codec needs -- EncodingStats delta bases + key/clustering/column types.
# Format (public knowledge, ``SerializationHeader.serializer.serialize``;
# all vints are Cassandra unsigned vints, strings are vint-length-prefixed
# UTF-8):
#
#     EncodingStats: unsignedVInt(minTimestamp        - TIMESTAMP_EPOCH)
#                    unsignedVInt(minLocalDeletionTime - DELETION_TIME_EPOCH)
#                    unsignedVInt(minTTL              - TTL_EPOCH)
#     vint-str  key validator type name
#     unsignedVInt(n clustering types) + n * vint-str
#     unsignedVInt(n static columns)  + n * (vint-str name, vint-str type)
#     unsignedVInt(n regular columns) + n * (vint-str name, vint-str type)
#
# EncodingStats epochs (EncodingStats.java statics): 2015-09-22 00:00:00 UTC
# -- micros for timestamps, seconds for deletion times, 0 for TTLs. Deltas
# can be NEGATIVE (an sstable whose oldest write predates the epoch), which
# on the wire is the 9-byte two's-complement vint form.
# --------------------------------------------------------------------------

ENC_TIMESTAMP_EPOCH = 1_442_880_000_000_000
ENC_DELETION_TIME_EPOCH = 1_442_880_000
ENC_TTL_EPOCH = 0

UTF8_TYPE = "org.apache.cassandra.db.marshal.UTF8Type"
LONG_TYPE = "org.apache.cassandra.db.marshal.LongType"
COUNTER_TYPE = "org.apache.cassandra.db.marshal.CounterColumnType"
MAP_UTF8_LONG_TYPE = (
    "org.apache.cassandra.db.marshal.MapType("
    "org.apache.cassandra.db.marshal.UTF8Type,"
    "org.apache.cassandra.db.marshal.LongType)"
)
SET_UTF8_TYPE = (
    "org.apache.cassandra.db.marshal.SetType("
    "org.apache.cassandra.db.marshal.UTF8Type)"
)

# non-frozen multi-cell column families: their cells carry a CellPath
# (collection key / set element / UDT field position). A FROZEN collection
# is wrapped in FrozenType(...) in the header and stays a single-cell
# SIMPLE column (one vint-length-prefixed blob), so it never matches.
_COMPLEX_TYPE_PREFIXES = (
    "org.apache.cassandra.db.marshal.MapType(",
    "org.apache.cassandra.db.marshal.SetType(",
    "org.apache.cassandra.db.marshal.ListType(",
    "org.apache.cassandra.db.marshal.UserType(",
)


def is_complex_type(t: str) -> bool:
    """True for non-frozen map/set/list/UDT column types -- the columns
    whose cells are CellPath-addressed (Cassandra ColumnDefinition
    ``isComplex``); everything else (FrozenType-wrapped included) is a
    single-cell simple column."""
    return t.startswith(_COMPLEX_TYPE_PREFIXES)

# fixed-length value types (AbstractType.valueLengthIfFixed): the cell codec
# writes these raw, everything else vint-length-prefixed
FIXED_VALUE_LENGTHS = {
    LONG_TYPE: 8,
    "org.apache.cassandra.db.marshal.Int32Type": 4,
    "org.apache.cassandra.db.marshal.TimestampType": 8,
    "org.apache.cassandra.db.marshal.DoubleType": 8,
    "org.apache.cassandra.db.marshal.FloatType": 4,
    "org.apache.cassandra.db.marshal.BooleanType": 1,
    "org.apache.cassandra.db.marshal.UUIDType": 16,
    "org.apache.cassandra.db.marshal.TimeUUIDType": 16,
}


@dataclass
class SerializationHeaderInfo:
    """Deserialized SerializationHeader.Component."""

    min_timestamp: int = ENC_TIMESTAMP_EPOCH
    min_local_deletion_time: int = ENC_DELETION_TIME_EPOCH
    min_ttl: int = 0
    key_type: str = UTF8_TYPE
    clustering_types: list[str] = field(default_factory=list)
    static_columns: list[tuple[str, str]] = field(default_factory=list)
    regular_columns: list[tuple[str, str]] = field(default_factory=list)


def _write_vint_str(s: str) -> bytes:
    b = s.encode("utf-8")
    return write_unsigned_vint(len(b)) + b


def encode_serialization_header(h: SerializationHeaderInfo) -> bytes:
    out = bytearray()
    out += write_unsigned_vint(h.min_timestamp - ENC_TIMESTAMP_EPOCH)
    out += write_unsigned_vint(
        h.min_local_deletion_time - ENC_DELETION_TIME_EPOCH
    )
    out += write_unsigned_vint(h.min_ttl - ENC_TTL_EPOCH)
    out += _write_vint_str(h.key_type)
    out += write_unsigned_vint(len(h.clustering_types))
    for t in h.clustering_types:
        out += _write_vint_str(t)
    for cols in (h.static_columns, h.regular_columns):
        out += write_unsigned_vint(len(cols))
        for name, t in cols:
            out += _write_vint_str(name)
            out += _write_vint_str(t)
    return bytes(out)


def _read_signed_delta(r: _Reader) -> int:
    """Unsigned vint reinterpreted as a signed 64-bit long (the
    EncodingStats deltas can be negative)."""
    v = _read_vint(r)
    return v - (1 << 64) if v >= (1 << 63) else v


def _read_vint(r: _Reader) -> int:
    try:
        v, r.off = read_unsigned_vint(r.buf, r.off)
    except (IndexError, ValueError):
        raise ValueError(
            f"corrupt Statistics.db {r.source}: vint at offset {r.off} "
            "runs past EOF"
        ) from None
    return v


def _read_vint_str(r: _Reader, what: str) -> str:
    n = _read_vint(r)
    if not 0 <= n <= 65536:
        raise ValueError(
            f"corrupt Statistics.db {r.source}: implausible {what} length "
            f"{n} at offset {r.off}"
        )
    return r.take(n).decode("utf-8")


def parse_serialization_header(
    content: bytes, version: str = "nb", source: str = "<bytes>"
) -> SerializationHeaderInfo:
    """Parse the HEADER component out of a whole Statistics.db file."""
    _check_supported_version(version, source)
    toc = _read_toc(content, source)
    if _TYPE_HEADER not in toc:
        raise ValueError(
            f"corrupt Statistics.db {source}: no HEADER component in TOC "
            f"(types {sorted(toc)}) -- cell decoding needs the "
            "SerializationHeader"
        )
    r = _Reader(content, toc[_TYPE_HEADER], source)
    h = SerializationHeaderInfo()
    h.min_timestamp = _read_signed_delta(r) + ENC_TIMESTAMP_EPOCH
    h.min_local_deletion_time = (
        _read_signed_delta(r) + ENC_DELETION_TIME_EPOCH
    )
    h.min_ttl = _read_signed_delta(r) + ENC_TTL_EPOCH
    h.key_type = _read_vint_str(r, "key type name")
    n_clust = _read_vint(r)
    if n_clust > 1000:
        raise ValueError(
            f"corrupt Statistics.db {source}: implausible clustering type "
            f"count {n_clust}"
        )
    h.clustering_types = [
        _read_vint_str(r, "clustering type name") for _ in range(n_clust)
    ]
    for attr in ("static_columns", "regular_columns"):
        n_cols = _read_vint(r)
        if n_cols > 100_000:
            raise ValueError(
                f"corrupt Statistics.db {source}: implausible column "
                f"count {n_cols}"
            )
        setattr(
            h,
            attr,
            [
                (
                    _read_vint_str(r, "column name"),
                    _read_vint_str(r, "column type name"),
                )
                for _ in range(n_cols)
            ],
        )
    return h


def encode_statistics_db(
    stats: SSTableStats,
    version: str = "nb",
    header: SerializationHeaderInfo | None = None,
) -> bytes:
    """Assemble a complete Statistics.db: TOC + all four components, with
    CRC32 ints after the TOC and each component on 4.0+ versions (offsets
    account for them, like ``MetadataSerializer.serialize``). ``header``
    defaults to a minimal real SerializationHeader (UTF8 key, no
    clusterings or columns) so every encoded file parses end-to-end."""
    _check_supported_version(version, "<encode>")
    seed = stats.level * 31 + (stats.total_rows & 0xFF)
    components = [
        (_TYPE_VALIDATION, encode_validation_metadata(stats)),
        (_TYPE_COMPACTION, encode_compaction_metadata(seed)),
        (_TYPE_STATS, encode_stats_metadata(stats, version)),
        (
            _TYPE_HEADER,
            encode_serialization_header(
                header if header is not None else SerializationHeaderInfo()
            ),
        ),
    ]
    checksum = _has_checksum(version)
    toc = bytearray(struct.pack(">i", len(components)))
    pos = 4 + 8 * len(components) + (4 if checksum else 0)
    for type_id, blob in components:
        toc += struct.pack(">ii", type_id, pos)
        pos += len(blob) + (4 if checksum else 0)
    out = bytearray(toc)
    if checksum:
        out += struct.pack(">I", zlib.crc32(toc) & 0xFFFFFFFF)
    for _, blob in components:
        out += blob
        if checksum:
            out += struct.pack(">I", zlib.crc32(blob) & 0xFFFFFFFF)
    return bytes(out)


# --------------------------------------------------------------------------
# Parse (engine side)
# --------------------------------------------------------------------------


class _Reader:
    """Bounds-checked sequential reader; every violation names the file
    and byte offset (loud-corruption contract, like the Index.db parser)."""

    def __init__(self, buf: bytes, off: int, source: str):
        self.buf = buf
        self.off = off
        self.source = source

    def take(self, n: int) -> bytes:
        if self.off + n > len(self.buf):
            raise ValueError(
                f"corrupt Statistics.db {self.source}: read of {n} bytes at "
                f"offset {self.off} runs past EOF ({len(self.buf)})"
            )
        b = self.buf[self.off : self.off + n]
        self.off += n
        return b

    def unpack(self, fmt: str):
        return struct.unpack(fmt, self.take(struct.calcsize(fmt)))


def _parse_estimated_histogram(r: _Reader) -> tuple[list[tuple[int, int]], int]:
    """-> ((offset, count) pairs sans overflow, overflow count). Rebuilds
    the deserialized shape: pair 0's offset is the duplicate and dropped."""
    (n,) = r.unpack(">i")
    if not 0 <= n <= 10_000_000:
        raise ValueError(
            f"corrupt Statistics.db {r.source}: implausible histogram "
            f"bucket count {n} at offset {r.off - 4}"
        )
    offsets: list[int] = []
    buckets: list[int] = []
    for i in range(n):
        off_v, count = r.unpack(">qq")
        if i > 0:
            offsets.append(off_v)
        buckets.append(count)
    if n == 0:
        return [], 0
    return list(zip(offsets, buckets[:-1])), buckets[-1]


def _parse_streaming_histogram(r: _Reader) -> list[tuple[float, int]]:
    _max_bin, size = r.unpack(">ii")
    if not 0 <= size <= 10_000_000:
        raise ValueError(
            f"corrupt Statistics.db {r.source}: implausible tombstone "
            f"histogram size {size} at offset {r.off - 4}"
        )
    return [r.unpack(">dq") for _ in range(size)]


def _clustering_display(
    bufs: list[bytes], types: list[str] | None = None
) -> str | None:
    """Human-readable form of min/maxClusteringValues: each component
    rendered via its SerializationHeader clustering type when ``types``
    is given (validator-typed: longs/uuids/bools display as values, r09),
    else decoded as UTF-8 when it cleanly is, falling back to 0x-hex
    (crashing the listing on typed bytes would break the REAL-files
    feature). Components of a composite clustering are comma-joined."""
    if not bufs:
        return None
    if types:
        from cassandra_sstable_tools_spark.sources.sstable_binary import (
            render_typed,
        )

        return ",".join(
            render_typed(b, types[i] if i < len(types) else None)
            for i, b in enumerate(bufs)
        )

    def one(b: bytes) -> str:
        try:
            return b.decode("utf-8")
        except UnicodeDecodeError:
            return "0x" + b.hex()

    return ",".join(one(b) for b in bufs)


def _read_bool_byte(r: _Reader, what: str) -> bool:
    """Strict boolean read: any byte other than 0/1 means the field stream
    is misaligned (e.g. an undocumented layout change in some version) --
    fail LOUD instead of propagating garbage into later fields."""
    (b,) = r.unpack(">b")
    if b not in (0, 1):
        raise ValueError(
            f"corrupt Statistics.db {r.source}: non-boolean byte {b} for "
            f"{what} at offset {r.off - 1} (field misalignment?)"
        )
    return bool(b)


def _parse_clustering(r: _Reader) -> list[bytes]:
    (n,) = r.unpack(">i")
    if not 0 <= n <= 10_000:
        raise ValueError(
            f"corrupt Statistics.db {r.source}: implausible clustering "
            f"count {n} at offset {r.off - 4}"
        )
    out = []
    for _ in range(n):
        (ln,) = r.unpack(">H")
        out.append(r.take(ln))
    return out


def _read_toc(content: bytes, source: str) -> dict[int, int]:
    """Component-type -> absolute offset, bounds-validated."""
    r = _Reader(content, 0, source)
    (n_comp,) = r.unpack(">i")
    if not 1 <= n_comp <= 16:
        raise ValueError(
            f"corrupt Statistics.db {source}: implausible component "
            f"count {n_comp}"
        )
    toc: dict[int, int] = {}
    for _ in range(n_comp):
        type_id, offset = r.unpack(">ii")
        if not 0 <= offset <= len(content):
            raise ValueError(
                f"corrupt Statistics.db {source}: component {type_id} "
                f"offset {offset} outside file of {len(content)} bytes"
            )
        toc[type_id] = offset
    return toc


def _stats_toc(content: bytes, version: str, source: str) -> dict[int, int]:
    """The TOC of a Statistics.db this parser accepts: a supported
    version, bounds-valid offsets, a STATS component."""
    _check_supported_version(version, source)
    toc = _read_toc(content, source)
    if _TYPE_STATS not in toc:
        raise ValueError(
            f"corrupt Statistics.db {source}: no STATS component in TOC "
            f"(types {sorted(toc)})"
        )
    return toc


def parse_partitioner(
    content: bytes, version: str = "nb", source: str = "<bytes>"
) -> str:
    """Only the partitioner class of a Statistics.db: the TOC and the
    VALIDATION string, under ``parse_statistics_db``'s checks (a read
    needs the partitioner, not the histograms). Murmur3 when VALIDATION
    is absent, as in ``SSTableStats``."""
    toc = _stats_toc(content, version, source)
    if _TYPE_VALIDATION not in toc:
        return SSTableStats.partitioner
    return _read_java_utf(content, toc[_TYPE_VALIDATION], source)[0]


def parse_statistics_db(
    content: bytes, version: str = "nb", source: str = "<bytes>"
) -> SSTableStats:
    """Parse a Statistics.db -> SSTableStats. Offset-driven via the TOC;
    reads VALIDATION and STATS, skips COMPACTION (opaque to size
    analytics; the HEADER component has its own parser,
    ``parse_serialization_header``, feeding the Data.db cell codec).
    Unknown trailing StatsMetadata fields from future versions
    are tolerated (the format evolves append-only within a family); every
    structural violation raises a ValueError naming file and offset."""
    toc = _stats_toc(content, version, source)
    stats = SSTableStats()
    if _TYPE_VALIDATION in toc:
        v = _Reader(content, toc[_TYPE_VALIDATION], source)
        stats.partitioner, v.off = _read_java_utf(content, v.off, source)
        (stats.bloom_fp_chance,) = v.unpack(">d")

    s = _Reader(content, toc[_TYPE_STATS], source)
    psize_pairs, psize_overflow = _parse_estimated_histogram(s)
    ccount_pairs, ccount_overflow = _parse_estimated_histogram(s)
    stats.partition_size_hist = psize_pairs
    stats.column_count_hist = ccount_pairs
    # stash overflow counts for max() via closures below
    s.unpack(">qi")  # commitLogUpperBound -- not surfaced
    stats.min_timestamp, stats.max_timestamp = s.unpack(">qq")
    (
        stats.min_local_deletion_time,
        stats.max_local_deletion_time,
    ) = s.unpack(">ii")
    stats.min_ttl, stats.max_ttl = s.unpack(">ii")
    (stats.compression_ratio,) = s.unpack(">d")
    stats.tombstone_hist = _parse_streaming_histogram(s)
    (stats.level,) = s.unpack(">i")
    (stats.repaired_at,) = s.unpack(">q")
    stats.min_clustering = _parse_clustering(s)
    stats.max_clustering = _parse_clustering(s)
    stats.has_legacy_counter_shards = _read_bool_byte(
        s, "hasLegacyCounterShards"
    )
    stats.total_columns_set, stats.total_rows = s.unpack(">qq")
    if _has_commit_log_lower_bound(version):
        s.unpack(">qi")
    if _has_commit_log_intervals(version):
        (n_iv,) = s.unpack(">i")
        if not 0 <= n_iv <= 1_000_000:
            raise ValueError(
                f"corrupt Statistics.db {source}: implausible commit-log "
                f"interval count {n_iv} at offset {s.off - 4}"
            )
        for _ in range(n_iv):
            s.unpack(">qiqi")
    if _has_pending_repair(version):
        if _read_bool_byte(s, "pendingRepair presence"):
            s.take(16)  # pending repair session UUID
        stats.is_transient = _read_bool_byte(s, "isTransient")
    if _has_originating_host_id(version):
        if _read_bool_byte(s, "originatingHostId presence"):
            s.take(16)
    # overflow buckets feed max(); attach as derived attributes
    stats._psize_overflow = psize_overflow  # type: ignore[attr-defined]
    stats._ccount_overflow = ccount_overflow  # type: ignore[attr-defined]
    return stats


# --------------------------------------------------------------------------
# Distributed scan
# --------------------------------------------------------------------------

STATISTICS_SCHEMA = (
    "keyspace string, table_name string, sstable_id string, "
    "partitioner string, bloom_fp_chance double, "
    "min_timestamp bigint, max_timestamp bigint, "
    "min_local_deletion_time bigint, max_local_deletion_time bigint, "
    "min_ttl int, max_ttl int, compression_ratio double, "
    "level int, repaired_at bigint, is_repaired boolean, "
    "min_clustering string, max_clustering string, "
    "total_columns_set bigint, total_rows bigint, "
    "mean_partition_size bigint, max_partition_size bigint, "
    "mean_column_count bigint, max_column_count bigint, "
    "droppable_tombstones bigint"
)


def _statistics_row(sst) -> tuple:
    """One sstable's STATISTICS_SCHEMA fields after the identity prefix."""
    from cassandra_sstable_tools_spark.constants import GC_BEFORE

    ver, path = sst.version, sst.path("Statistics.db")
    with sst.open("Statistics.db") as f:
        content = f.read()
    st = parse_statistics_db(content, ver, source=path)
    try:
        ctypes = parse_serialization_header(
            content, version=ver, source=path
        ).clustering_types
    except (ValueError, KeyError):
        ctypes = None  # no HEADER component: heuristic display
    return (
        st.partitioner,
        st.bloom_fp_chance,
        st.min_timestamp,
        st.max_timestamp,
        st.min_local_deletion_time,
        st.max_local_deletion_time,
        st.min_ttl,
        st.max_ttl,
        st.compression_ratio,
        st.level,
        st.repaired_at,
        st.repaired_at != 0,
        _clustering_display(st.min_clustering, ctypes),
        _clustering_display(st.max_clustering, ctypes),
        st.total_columns_set,
        st.total_rows,
        estimated_histogram_mean(st.partition_size_hist),
        estimated_histogram_max(
            st.partition_size_hist, getattr(st, "_psize_overflow", 0)
        ),
        estimated_histogram_mean(st.column_count_hist),
        estimated_histogram_max(
            st.column_count_hist, getattr(st, "_ccount_overflow", 0)
        ),
        droppable_before(st.tombstone_hist, GC_BEFORE),
    )


def statistics_metadata(
    spark: SparkSession, root: str, filenames=None
) -> DataFrame:
    """Distributed Statistics.db scan: one row per sstable with every
    StatsMetadata field the reference's `sstables` command surfaces.
    Statistics.db is a few KB regardless of sstable size, so each read
    takes the whole file (unlike Index.db, which needs the streaming
    parse); output is O(#sstables) rows.

    ``droppable_tombstones`` replicates the reference's
    ``getDroppableTombstonesBefore(gcBefore)`` with the engine's pinned
    GC_BEFORE (constants.py -- deterministic across engine and oracle).
    ``is_repaired`` is the reference's ``repairedAt != 0`` test
    (SSTableMetadataCollector.java:88)."""
    from cassandra_sstable_tools_spark.sources.inventory import sstable_pass

    return sstable_pass(
        spark, "statistics_metadata", root, filenames, ("Statistics.db",),
        lambda sst: [_statistics_row(sst)], STATISTICS_SCHEMA,
    )


# --------------------------------------------------------------------------
# Fixture derivation: parquet-derived per-sstable stats -> SSTableStats
# --------------------------------------------------------------------------


def fixture_stats(spark: SparkSession, sf_dir: str) -> dict:
    """Per-sstable SSTableStats derived from the parquet adapter frames --
    the planted Statistics.db content for ``materialize_index_files``.

    Every field is a DuckDB-expressible function of the fixture tables, so
    the registered queries' oracles reproduce the planted files exactly:
    - scalars from the adapter's ``sstables`` metadata frame,
    - TTL / clustering / row counts / droppable from one ``cells`` agg,
    - the partition-size and column-count histograms are the EXACT
      distributions from ``partition_sizes`` (what a real Cassandra's
      EstimatedHistogram approximates), so Cassandra's mean()/max()
      formulas resolve to ceil(sum/count) / max over the same frame,
    - the tombstone histogram is the exact droppable-marker
      local_deletion_time distribution.

    SSTables whose min_timestamp is NULL (a whole sstable of NULL-writetime
    dirty rows) get NO Statistics.db -- a real file cannot hold "unknown"
    in a fixed-width long -- and the oracles mirror the absence with
    ``WHERE min_timestamp IS NOT NULL`` (same rule as the absent-Data.db
    precedent in ``materialize_index_files``).

    Driver-side collects at the per-sstable / distinct-value grain
    (thousands of rows at fixture scale) -- test/driver scaffolding only, a
    real deployment already has the files."""
    from cassandra_sstable_tools_spark.sources import tpch_adapter
    from cassandra_sstable_tools_spark.sources.sstable_binary import (
        _is_compressed_fixture,
    )

    cells = tpch_adapter.cells(spark, sf_dir)
    per_part = tpch_adapter.partition_sizes_cached(spark, sf_dir)
    key_cols = ["keyspace", "table_name", "sstable_id"]

    meta = {
        (r["keyspace"], r["table_name"], r["sstable_id"]): r
        for r in tpch_adapter.sstables(spark, sf_dir)
        .select(
            *key_cols, "min_timestamp", "max_timestamp",
            "min_local_deletion_time", "max_local_deletion_time",
            "level", "repaired_at",
        )
        .collect()
    }
    cell_aggs = {
        (r["keyspace"], r["table_name"], r["sstable_id"]): r
        for r in cells.groupBy(*key_cols)
        .agg(
            F.min(F.coalesce("ttl", F.lit(0))).alias("min_ttl"),
            F.max(F.coalesce("ttl", F.lit(0))).alias("max_ttl"),
            F.min("clustering").alias("min_clustering"),
            F.max("clustering").alias("max_clustering"),
            F.sum(
                F.when(F.col("kind").isin("CELL", "STATIC_CELL"), 1).otherwise(0)
            ).alias("total_columns_set"),
            F.countDistinct(
                F.when(
                    F.col("kind").isin("CELL", "STATIC_CELL", "ROW_MARKER"),
                    F.concat_ws("|", "partition_key", "clustering"),
                )
            ).alias("total_rows"),
        )
        .collect()
    }
    psize_hist: dict[tuple, list] = {}
    for r in (
        per_part.where(F.col("psize").isNotNull())
        .groupBy(*key_cols, "psize")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    ):
        psize_hist.setdefault(
            (r["keyspace"], r["table_name"], r["sstable_id"]), []
        ).append((int(r["psize"]), int(r["n"])))
    pcells_hist: dict[tuple, list] = {}
    for r in (
        per_part.groupBy(*key_cols, "pcells")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    ):
        pcells_hist.setdefault(
            (r["keyspace"], r["table_name"], r["sstable_id"]), []
        ).append((int(r["pcells"]), int(r["n"])))
    tomb_hist: dict[tuple, list] = {}
    for r in (
        cells.where(
            F.col("is_tombstone") & F.col("local_deletion_time").isNotNull()
        )
        .groupBy(*key_cols, "local_deletion_time")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    ):
        tomb_hist.setdefault(
            (r["keyspace"], r["table_name"], r["sstable_id"]), []
        ).append((float(r["local_deletion_time"]), int(r["n"])))

    out: dict[tuple, SSTableStats] = {}
    for key, m in meta.items():
        if m["min_timestamp"] is None:
            continue  # unrepresentable in fixed-width longs; oracle mirrors
        c = cell_aggs[key]
        out[key] = SSTableStats(
            # v11: the planted files are in RAW PARTITION KEY order (the
            # adapter assigns positions by ascending key), which is
            # ByteOrderedPartitioner's order -- declaring Murmur3 would
            # lie to the point-read path, whose summary binary search
            # derives its comparator from this very field (lookup.py)
            partitioner="org.apache.cassandra.dht.ByteOrderedPartitioner",
            partition_size_hist=sorted(psize_hist.get(key, [])),
            column_count_hist=sorted(pcells_hist.get(key, [])),
            min_timestamp=int(m["min_timestamp"]),
            max_timestamp=int(m["max_timestamp"]),
            min_local_deletion_time=int(m["min_local_deletion_time"]),
            max_local_deletion_time=int(m["max_local_deletion_time"]),
            min_ttl=int(c["min_ttl"]),
            max_ttl=int(c["max_ttl"]),
            compression_ratio=0.6 if _is_compressed_fixture(*key) else -1.0,
            tombstone_hist=sorted(tomb_hist.get(key, [])),
            level=int(m["level"]),
            repaired_at=int(m["repaired_at"]),
            min_clustering=[c["min_clustering"].encode("utf-8")],
            max_clustering=[c["max_clustering"].encode("utf-8")],
            total_columns_set=int(c["total_columns_set"]),
            total_rows=int(c["total_rows"]),
        )
    return out


# --------------------------------------------------------------------------
# Registered queries: Statistics.db certified against the parquet oracle
# --------------------------------------------------------------------------


def statistics_cassdir(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Every StatsMetadata field, parsed from REAL planted Statistics.db
    files -- the raw-component certificate (the listing query below
    aggregates some of this away behind joins). A hash match certifies the
    TOC walk, both EstimatedHistograms (incl. the offset-pairing quirk and
    Cassandra's mean/max formulas), the tombstone StreamingHistogram +
    droppable sum, clustering buffers, and every scalar field at once."""
    from cassandra_sstable_tools_spark.sources.sstable_binary import (
        materialize_index_files,
    )

    root = materialize_index_files(spark, sf_dir)
    return statistics_metadata(spark, root)


# --------------------------------------------------------------------------
# Directory reports finished on the driver: one read per sstable
# --------------------------------------------------------------------------

_STATS_TYPES = dict(f.split() for f in STATISTICS_SCHEMA.split(","))
_STATS_COLS = list(_STATS_TYPES)


def _sstable_facts(sst, partitions: bool) -> list[tuple]:
    """One sstable's row for the directory reports: (partitions,
    disk_length, file_timestamp, uncompressed_length, compressed,
    {Statistics.db field: value} or None). The Data.db length and mtime
    come from the listing; ``uncompressed_length`` is Cassandra's
    SSTableReader.uncompressedLength(): the CompressionInfo.db dataLength,
    else the Data.db length. ``partitions`` counts the Index.db entries
    when asked (an Index.db without entries has no count: no row)."""
    from cassandra_sstable_tools_spark.sources.sstable_binary import (
        parse_compression_info,
        stream_parse_index_db,
    )

    n = None
    if partitions:
        with sst.open("Index.db") as f:
            n = sum(1 for _ in stream_parse_index_db(
                f, version=sst.version, source=sst.path("Index.db")
            ))
        if not n:
            return []
    disk = data = sst.length("Data.db")
    compressed = "CompressionInfo.db" in sst.components
    if compressed:
        with sst.open("CompressionInfo.db") as f:
            data = parse_compression_info(
                f.read(), sst.version, source=sst.path("CompressionInfo.db")
            )
    stats = None
    if "Statistics.db" in sst.components:
        stats = dict(zip(_STATS_COLS[3:], _statistics_row(sst)))
    return [(n, disk, sst.mtime("Data.db"), data, compressed, stats)]


_LISTING_STATS = (
    "min_timestamp", "max_timestamp", "min_local_deletion_time",
    "max_local_deletion_time", "min_ttl", "max_ttl", "level",
    "is_repaired", "repaired_at", "mean_partition_size",
    "max_partition_size", "mean_column_count", "max_column_count",
    "droppable_tombstones",
)
_LENGTH_FIELDS = [
    "keyspace string", "table_name string", "sstable_id string",
    "partitions bigint", "disk_length bigint", "uncompressed_length bigint",
    "compressed boolean",
]


def sstables_listing_report(
    spark: SparkSession, root: str, filenames=None,
    file_timestamp: bool = False, statistics: bool = True,
) -> tuple[str, list[tuple]]:
    """``(ddl, rows)`` of the directory ``sstables`` listing: one read per
    sstable (``_sstable_facts``) in one Spark job, no SQL plan.

    ``statistics=True`` is the reference's FULL listing
    (cli/SSTableMetadataCollector.java:40-90): Statistics.db metadata,
    exact Index.db partition counts (`keys` -- exact where the reference
    estimates, documented improvement) and CompressionInfo/Data.db-resolved
    lengths (Disk Size vs Total Size); ``file_timestamp=True`` adds the
    reference's File Timestamp column from the Data.db modification time
    (CLI-only: no oracle can predict mtimes). ``statistics=False`` is the
    reduced listing, the columns derivable from Index/Data/CompressionInfo
    alone.

    An sstable missing its Index.db, Data.db or (full listing)
    Statistics.db component is broken and is left out rather than shown
    as a row of fabricated blanks; the CLI warns about the Statistics.db
    omissions and falls back to the reduced listing when a directory has
    NO Statistics.db at all."""
    from cassandra_sstable_tools_spark.sources.inventory import sstable_rows

    stats = []
    if statistics:
        stats = [f"{c} {_STATS_TYPES[c]}" for c in _LISTING_STATS]
        if file_timestamp:
            stats.insert(2, "file_timestamp bigint")
    cols = [f.split()[0] for f in stats]
    rows = [
        (ks, tb, ss, n, disk, data, compressed,
         *({**(st or {}), "file_timestamp": mtime}[c] for c in cols))
        for ks, tb, ss, n, disk, mtime, data, compressed, st in sstable_rows(
            spark, "sstables_listing_report", root, filenames,
            ("Index.db", "Data.db", *(["Statistics.db"] if statistics else [])),
            lambda sst: _sstable_facts(sst, partitions=True),
        )
    ]
    return ", ".join(_LENGTH_FIELDS + stats), rows


def directory_sstables_listing(
    spark: SparkSession,
    root: str,
    filenames=None,
    file_timestamp: bool = False,
) -> DataFrame:
    """The full directory ``sstables`` listing (``sstables_listing_report``)
    as a local relation."""
    from cassandra_sstable_tools_spark.sources.inventory import local_frame

    ddl, rows = sstables_listing_report(
        spark, root, filenames, file_timestamp
    )
    return local_frame(spark, rows, ddl)


def statistics_coverage(
    spark: SparkSession, root: str, filenames=None
) -> tuple[int, int, int]:
    """(#Data.db files, #Statistics.db files, #sstables whose Data.db sits
    next to an empty Index.db) under ``root`` (within the `-f` selection
    when given), from one driver-side listing, no Spark job. The CLI
    takes all its directory checks from it: no Statistics.db at all
    fails ``summary`` and reduces the ``sstables`` listing, and partial
    coverage or an empty Index.db WARNS, because the reports then omit
    those sstables (partial snapshot copies, failed compaction cleanup):
    a tool that inventories sstables must not under-report the broken
    ones without saying so. An Index.db without entries has length 0."""
    from cassandra_sstable_tools_spark.sources.inventory import live_sstables

    return sstable_coverage(
        live_sstables("statistics_coverage", root, filenames, ())
    )


def sstable_coverage(ssts) -> tuple[int, int, int]:
    """``statistics_coverage``'s counts over an inventory already listed."""
    return (
        sum("Data.db" in s.components for s in ssts),
        sum("Statistics.db" in s.components for s in ssts),
        sum(
            {"Data.db", "Index.db"} <= s.components
            and s.length("Index.db") == 0
            for s in ssts
        ),
    )


def sstable_metadata_cassdir(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Certified wrapper: the full directory listing over the planted
    fixture tree (minus the mtime column, which no oracle can predict)."""
    from cassandra_sstable_tools_spark.sources.sstable_binary import (
        materialize_index_files,
    )

    root = materialize_index_files(spark, sf_dir)
    return directory_sstables_listing(spark, root)


SUMMARY_SCHEMA = (
    "keyspace string, table_name string, sstable_count bigint, "
    "disk_size bigint, data_size bigint, last_repaired bigint, "
    "repair_pct bigint"
)


def summary_report(
    spark: SparkSession, root: str, filenames=None
) -> list[tuple]:
    """The reference's `summary` report (cli/SummaryCollector.java:23-72)
    from a Cassandra data directory and nothing else, as SUMMARY_SCHEMA
    rows: per-table sstable counts, disk vs data sizes
    (CompressionInfo-resolved), last-repaired and the X5 integer-floor
    repair %. Statistics.db made this possible -- repair state lives
    nowhere else; sstables without it are left out (the CLI warns). Same
    columns and formulas as the parquet-path `summary`
    (queries/summary.py), so reports are interchangeable. One read per
    sstable in one Spark job; the driver aggregates."""
    from cassandra_sstable_tools_spark.sources.inventory import sstable_rows

    tables: dict[tuple[str, str], list] = {}
    for ks, tb, _ss, _n, disk, _t, data, _c, st in sstable_rows(
        spark, "summary_report", root, filenames, ("Data.db", "Statistics.db"),
        lambda sst: _sstable_facts(sst, partitions=False),
    ):
        t = tables.setdefault((ks, tb), [0, 0, 0, None, 0])
        t[0] += 1
        t[1] += disk
        t[2] += data
        if st["is_repaired"]:
            at = st["repaired_at"]
            t[3] = at if t[3] is None else max(t[3], at)
            t[4] += data
    # repair % as Spark evaluates floor(try_divide(repaired * 100, data)):
    # a double division, floored; NULL for a table of 0 bytes
    return [
        (ks, tb, n, disk, data, last,
         math.floor(float(rep * 100) / float(data)) if data else None)
        for (ks, tb), (n, disk, data, last, rep) in tables.items()
    ]


def directory_summary(
    spark: SparkSession, root: str, filenames=None
) -> DataFrame:
    """``summary_report`` as a local relation (SUMMARY_SCHEMA)."""
    from cassandra_sstable_tools_spark.sources.inventory import local_frame

    return local_frame(
        spark, summary_report(spark, root, filenames), SUMMARY_SCHEMA
    )


def summary_cassdir(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Certified wrapper: the directory-only summary over the planted
    fixture tree; oracle = the parquet summary SQL restricted to the
    sstables that physically exist in the tree."""
    from cassandra_sstable_tools_spark.sources.sstable_binary import (
        materialize_index_files,
    )

    root = materialize_index_files(spark, sf_dir)
    return directory_summary(spark, root)


# md5-parity predicate: the ONE shared definition (sstable_binary
# .compressed_parity_sql) so the fixture rule and every oracle move together
def _parity() -> str:
    from cassandra_sstable_tools_spark.sources.sstable_binary import (
        compressed_parity_sql,
    )

    return compressed_parity_sql("s")

_CELL_AGG_SUB = """
    SELECT keyspace, table_name, sstable_id,
           min(coalesce(ttl, 0)) AS min_ttl,
           max(coalesce(ttl, 0)) AS max_ttl,
           min(clustering) AS min_clustering,
           max(clustering) AS max_clustering,
           CAST(sum(CASE WHEN kind IN ('CELL', 'STATIC_CELL')
                         THEN 1 ELSE 0 END) AS BIGINT) AS total_columns_set,
           CAST(count(DISTINCT CASE
                    WHEN kind IN ('CELL', 'STATIC_CELL', 'ROW_MARKER')
                    THEN partition_key || '|' || clustering END)
                AS BIGINT) AS total_rows,
           CAST(sum(CASE WHEN is_tombstone
                              AND local_deletion_time < {GC_BEFORE}
                         THEN 1 ELSE 0 END) AS BIGINT)
               AS droppable_tombstones
    FROM cells
    GROUP BY 1, 2, 3
"""

_HIST_AGG_SUB = """
    SELECT keyspace, table_name, sstable_id,
           CAST(coalesce(ceil(sum(psize) / count(psize)), 0) AS BIGINT)
               AS mean_partition_size,
           CAST(coalesce(max(psize), 0) AS BIGINT) AS max_partition_size,
           CAST(coalesce(ceil(sum(pcells) / count(*)), 0) AS BIGINT)
               AS mean_column_count,
           CAST(coalesce(max(pcells), 0) AS BIGINT) AS max_column_count
    FROM per_part
    GROUP BY 1, 2, 3
"""

_ORACLE_STATISTICS_TAIL = """
SELECT s.keyspace, s.table_name, s.sstable_id,
       'org.apache.cassandra.dht.ByteOrderedPartitioner' AS partitioner,
       CAST(0.01 AS DOUBLE) AS bloom_fp_chance,
       s.min_timestamp, s.max_timestamp,
       s.min_local_deletion_time, s.max_local_deletion_time,
       c.min_ttl, c.max_ttl,
       CASE WHEN {PARITY} THEN CAST(0.6 AS DOUBLE)
            ELSE CAST(-1.0 AS DOUBLE) END AS compression_ratio,
       s.level, s.repaired_at, s.is_repaired,
       c.min_clustering, c.max_clustering,
       c.total_columns_set, c.total_rows,
       h.mean_partition_size, h.max_partition_size,
       h.mean_column_count, h.max_column_count,
       c.droppable_tombstones
FROM sstables_meta s
JOIN ({CELL_AGG}) c USING (keyspace, table_name, sstable_id)
JOIN ({HIST_AGG}) h USING (keyspace, table_name, sstable_id)
WHERE s.min_timestamp IS NOT NULL
"""

_ORACLE_METADATA_TAIL = """
SELECT s.keyspace, s.table_name, s.sstable_id,
       i.partitions,
       CASE WHEN {PARITY} THEN (s.uncompressed_length * 3) // 5
            ELSE s.uncompressed_length END AS disk_length,
       s.uncompressed_length AS uncompressed_length,
       {PARITY} AS compressed,
       s.min_timestamp, s.max_timestamp,
       s.min_local_deletion_time, s.max_local_deletion_time,
       c.min_ttl, c.max_ttl,
       s.level, s.is_repaired, s.repaired_at,
       h.mean_partition_size, h.max_partition_size,
       h.mean_column_count, h.max_column_count,
       c.droppable_tombstones
FROM sstables_meta s
JOIN (SELECT keyspace, table_name, sstable_id,
             CAST(count(*) AS BIGINT) AS partitions
      FROM index_entries GROUP BY 1, 2, 3)
     i USING (keyspace, table_name, sstable_id)
JOIN ({CELL_AGG}) c USING (keyspace, table_name, sstable_id)
JOIN ({HIST_AGG}) h USING (keyspace, table_name, sstable_id)
WHERE s.min_timestamp IS NOT NULL
  AND s.uncompressed_length IS NOT NULL
"""


# planted disk_length (the fixture truncates "compressed" Data.db files to
# 3/5 of the data length) aggregated per table; restricted to sstables that
# physically exist in the tree (non-null length AND non-null min_timestamp)
_ORACLE_SUMMARY_TAIL = """
SELECT s.keyspace, s.table_name,
       count(*) AS sstable_count,
       CAST(sum(CASE WHEN {PARITY} THEN (s.uncompressed_length * 3) // 5
                     ELSE s.uncompressed_length END) AS BIGINT) AS disk_size,
       CAST(sum(s.uncompressed_length) AS BIGINT) AS data_size,
       max(CASE WHEN s.is_repaired THEN s.repaired_at END) AS last_repaired,
       CAST(floor(sum(CASE WHEN s.is_repaired THEN s.uncompressed_length
                           ELSE 0 END) * 100
                  / sum(s.uncompressed_length)) AS BIGINT) AS repair_pct
FROM sstables_meta s
WHERE s.min_timestamp IS NOT NULL
  AND s.uncompressed_length IS NOT NULL
GROUP BY 1, 2
"""


def _oracles() -> dict[str, str]:
    from cassandra_sstable_tools_spark.constants import GC_BEFORE
    from cassandra_sstable_tools_spark.oracles import with_adapter

    cell_agg = _CELL_AGG_SUB.format(GC_BEFORE=GC_BEFORE)
    return {
        "statistics_cassdir": with_adapter(
            _ORACLE_STATISTICS_TAIL.format(
                PARITY=_parity(), CELL_AGG=cell_agg, HIST_AGG=_HIST_AGG_SUB
            )
        ),
        "sstable_metadata_cassdir": with_adapter(
            _ORACLE_METADATA_TAIL.format(
                PARITY=_parity(), CELL_AGG=cell_agg, HIST_AGG=_HIST_AGG_SUB
            )
        ),
        "summary_cassdir": with_adapter(
            _ORACLE_SUMMARY_TAIL.format(PARITY=_parity())
        ),
    }


QUERIES = {
    "statistics_cassdir": statistics_cassdir,
    "sstable_metadata_cassdir": sstable_metadata_cassdir,
    "summary_cassdir": summary_cassdir,
}
ORACLES = _oracles()
