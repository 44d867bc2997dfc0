"""Filter.db (bloom filter) reader + Cassandra-variant murmur3 + encoder.

Cassandra answers "might this sstable contain key K?" from ``Filter.db``
before touching Summary/Index/Data: a bloom filter over all partition
keys, hashed with Cassandra's murmur3_x64_128. The reference gets the
filter via ``cassandra-all`` (``pom.xml:88-93`` — SSTableReader opens it);
this module implements the public format and hash from scratch with an
independent fixture-side encoder (SURVEY §5 playbook).

On-disk layout implemented (big format, "ma".."nc" families)::

    i32  hashCount                 # number of bit probes per key
    i32  wordCount                 # 64-bit words in the bitset
    wordCount x i64  words         # the bitset

Bit addressing: bit ``i`` is ``words[i >> 6] >> (i & 63) & 1`` (the
OpenBitSet convention — LSB-first within each long).

Hash → probe positions (``BloomFilter.indexes`` semantics): murmur3
x64 128 of the key with seed 0 gives (h1, h2) as SIGNED 64-bit values;
probe ``i``'s bit index is ``javaAbs((h1 + i*h2) mod numBits)`` with
Java truncated-division remainder — equivalently ``abs64(base) %
numBits`` where base wraps in signed 64-bit each step.

CASSANDRA-VARIANT murmur3: Cassandra's ``MurmurHash.hash3_x64_128``
deviates from canonical murmur3 in the TAIL — bytes are SIGN-EXTENDED
(Java ``byte`` is signed, and the tail XORs them without ``& 0xff``),
while 16-byte body blocks are read unsigned little-endian. Any key whose
length % 16 leaves a tail byte >= 0x80 hashes differently from the
canonical algorithm; this module replicates the Cassandra behavior.

FORMAT-RISK NOTES (same standard as Summary.db / the 'oa' rejection):
the two header ints are DataOutput big-endian for certain; the word
section byte order and the (base, inc) = (h1, h2) probe order cannot be
verified against a real node in this environment. The structural
tripwires are weaker than Summary.db's (a bitset has no internal
invariants), so the honest contract is: the no-false-negative
certificate holds for filters THIS engine wrote; against a real
cluster's files, validate one sstable's filter before trusting fleet-wide
scans (the ``bloom_checks`` frame makes that a one-query audit —
``present_count < key_count`` on a real file means a convention
mismatch, loudly visible, since a correctly-read bloom filter can never
false-negative).

Scale shape: one read per (Filter.db, Index.db) sibling pair; the filter
is ~1.2 GB for 1e9 keys at 10 bits/key — within one task's budget, and
the index side streams in 8 MB chunks, so task memory is bounded by
filter size, never index size.
"""

from __future__ import annotations

import struct

from pyspark.sql import DataFrame, SparkSession

_MASK64 = (1 << 64) - 1

BLOOM_CHECK_SCHEMA = (
    "keyspace string, table_name string, sstable_id string, "
    "hash_count int, key_count bigint, present_count bigint, "
    "all_present boolean"
)


def _signed64(x: int) -> int:
    x &= _MASK64
    return x - (1 << 64) if x >= (1 << 63) else x


def _rotl64(x: int, r: int) -> int:
    x &= _MASK64
    return ((x << r) | (x >> (64 - r))) & _MASK64


def _fmix64(k: int) -> int:
    k &= _MASK64
    k ^= k >> 33
    k = (k * 0xFF51AFD7ED558CCD) & _MASK64
    k ^= k >> 33
    k = (k * 0xC4CEB9FE1A85EC53) & _MASK64
    k ^= k >> 33
    return k


_C1 = 0x87C37B91114253D5
_C2 = 0x4CF5AB832836A04C


def murmur3_x64_128(key: bytes, seed: int = 0) -> tuple[int, int]:
    """Cassandra's murmur3 (sign-extended tail — see module docstring).
    Returns (h1, h2) as SIGNED 64-bit ints, matching Java longs."""
    length = len(key)
    nblocks = length // 16
    h1 = seed & _MASK64
    h2 = seed & _MASK64

    for b in range(nblocks):
        k1, k2 = struct.unpack_from("<qq", key, b * 16)
        k1 &= _MASK64
        k2 &= _MASK64
        k1 = (k1 * _C1) & _MASK64
        k1 = _rotl64(k1, 31)
        k1 = (k1 * _C2) & _MASK64
        h1 ^= k1
        h1 = _rotl64(h1, 27)
        h1 = (h1 + h2) & _MASK64
        h1 = (h1 * 5 + 0x52DCE729) & _MASK64
        k2 = (k2 * _C2) & _MASK64
        k2 = _rotl64(k2, 33)
        k2 = (k2 * _C1) & _MASK64
        h2 ^= k2
        h2 = _rotl64(h2, 31)
        h2 = (h2 + h1) & _MASK64
        h2 = (h2 * 5 + 0x38495AB5) & _MASK64

    # tail: Java sign-extends each byte (the Cassandra deviation)
    tail = key[nblocks * 16 :]
    k1 = 0
    k2 = 0
    t = len(tail)
    for i in range(t - 1, 7, -1):  # bytes 8..14 -> k2
        b = tail[i] - 256 if tail[i] >= 128 else tail[i]
        k2 ^= (b << ((i - 8) * 8)) & _MASK64
    if t > 8:
        k2 = (k2 * _C2) & _MASK64
        k2 = _rotl64(k2, 33)
        k2 = (k2 * _C1) & _MASK64
        h2 ^= k2
    for i in range(min(t, 8) - 1, -1, -1):  # bytes 0..7 -> k1
        b = tail[i] - 256 if tail[i] >= 128 else tail[i]
        k1 ^= (b << (i * 8)) & _MASK64
    if t > 0:
        k1 = (k1 * _C1) & _MASK64
        k1 = _rotl64(k1, 31)
        k1 = (k1 * _C2) & _MASK64
        h1 ^= k1

    h1 ^= length
    h2 ^= length
    h1 = (h1 + h2) & _MASK64
    h2 = (h2 + h1) & _MASK64
    h1 = _fmix64(h1)
    h2 = _fmix64(h2)
    h1 = (h1 + h2) & _MASK64
    h2 = (h2 + h1) & _MASK64
    return _signed64(h1), _signed64(h2)


def murmur3_x64_128_batch(keys: list[bytes]):
    """Vectorized murmur3_x64_128 over a key batch: numpy uint64 lanes,
    keys grouped by byte length so block/tail shapes align per group.
    Bit-identical to the scalar path (differential-tested incl. the
    sign-extended tail); returns an (n, 2) SIGNED int64 array of (h1, h2).

    This is the batched-point-read hot path fix (r08 VERDICT What's-wrong
    #2): a K-key cohort probing S sstables ran K*S pure-Python murmur3
    calls; the numpy lanes amortize the interpreter out of it while the
    per-key semantics stay exactly Java's."""
    import numpy as np

    out = np.zeros((len(keys), 2), dtype=np.int64)
    by_len: dict[int, list[int]] = {}
    for i, k in enumerate(keys):
        by_len.setdefault(len(k), []).append(i)
    C1 = np.uint64(_C1)
    C2 = np.uint64(_C2)

    def rotl(x, r: int):
        return (x << np.uint64(r)) | (x >> np.uint64(64 - r))

    def fmix(k):
        k ^= k >> np.uint64(33)
        k = k * np.uint64(0xFF51AFD7ED558CCD)
        k ^= k >> np.uint64(33)
        k = k * np.uint64(0xC4CEB9FE1A85EC53)
        k ^= k >> np.uint64(33)
        return k

    for length, idxs in by_len.items():
        m = len(idxs)
        if length:
            buf = np.frombuffer(
                b"".join(keys[i] for i in idxs), dtype=np.uint8
            ).reshape(m, length)
        else:
            buf = np.zeros((m, 0), dtype=np.uint8)
        h1 = np.zeros(m, np.uint64)
        h2 = np.zeros(m, np.uint64)
        nblocks = length // 16
        if nblocks:
            blocks = np.ascontiguousarray(buf[:, : nblocks * 16]).view(
                "<u8"
            ).reshape(m, nblocks * 2)
            for b in range(nblocks):
                k1 = blocks[:, 2 * b] * C1
                k1 = rotl(k1, 31) * C2
                h1 ^= k1
                h1 = rotl(h1, 27) + h2
                h1 = h1 * np.uint64(5) + np.uint64(0x52DCE729)
                k2 = blocks[:, 2 * b + 1] * C2
                k2 = rotl(k2, 33) * C1
                h2 ^= k2
                h2 = rotl(h2, 31) + h1
                h2 = h2 * np.uint64(5) + np.uint64(0x38495AB5)
        t = length - nblocks * 16
        tail = buf[:, nblocks * 16 :]

        def sbyte(col):
            # Java sign-extends each tail byte (the Cassandra deviation):
            # int8 -> int64 -> two's-complement uint64
            return col.view(np.int8).astype(np.int64).view(np.uint64)

        k1 = np.zeros(m, np.uint64)
        k2 = np.zeros(m, np.uint64)
        for i in range(t - 1, 7, -1):
            k2 ^= sbyte(tail[:, i]) << np.uint64((i - 8) * 8)
        if t > 8:
            k2 = rotl(k2 * C2, 33) * C1
            h2 ^= k2
        for i in range(min(t, 8) - 1, -1, -1):
            k1 ^= sbyte(tail[:, i]) << np.uint64(i * 8)
        if t > 0:
            k1 = rotl(k1 * C1, 31) * C2
            h1 ^= k1
        h1 ^= np.uint64(length)
        h2 ^= np.uint64(length)
        h1 = h1 + h2
        h2 = h2 + h1
        h1 = fmix(h1)
        h2 = fmix(h2)
        h1 = h1 + h2
        h2 = h2 + h1
        out[idxs, 0] = h1.view(np.int64)
        out[idxs, 1] = h2.view(np.int64)
    return out


def might_contain_batch(f: "BloomFilterData", keys: list[bytes]):
    """Vectorized BloomFilterData.might_contain over a key batch -- one
    numpy pass instead of K Python probe loops. Returns an (n,) bool
    array aligned with ``keys``; semantics identical to the scalar path
    (incl. the Long.MIN_VALUE abs rendering)."""
    import numpy as np

    if not keys:
        return np.zeros(0, dtype=bool)
    hs = murmur3_x64_128_batch(keys)
    base = hs[:, 0].copy()
    h2u = hs[:, 1].view(np.uint64)
    words = np.array(f.words, dtype=np.uint64)
    nbits = np.int64(f.num_bits)
    min64 = np.int64(-(1 << 63))
    min_abs_mod = np.int64((1 << 63) % f.num_bits)
    res = np.ones(len(keys), dtype=bool)
    for _ in range(f.hash_count):
        bit = np.where(base == min64, min_abs_mod, np.abs(base) % nbits)
        w = words[bit >> np.int64(6)]
        res &= (
            (w >> (bit & np.int64(63)).view(np.uint64)) & np.uint64(1)
        ).astype(bool)
        base = (base.view(np.uint64) + h2u).view(np.int64)
    return res


def bloom_indexes(h1: int, h2: int, hash_count: int, num_bits: int) -> list[int]:
    """Probe bit positions, Java semantics: base starts at h1, advances by
    h2 with signed-64 wraparound; each probe is abs(base) % num_bits
    (truncated-division remainder + abs commute, so this matches Java's
    abs(base % max) everywhere except base == Long.MIN_VALUE, where Java
    abs stays negative — a 2^-64 event we render positive instead of
    crashing)."""
    out = []
    base = h1
    for _ in range(hash_count):
        out.append(abs(base) % num_bits)
        base = _signed64(base + h2)
    return out


class BloomFilterData:
    __slots__ = ("hash_count", "words")

    def __init__(self, hash_count: int, words: list[int]):
        self.hash_count = hash_count
        self.words = words  # unsigned 64-bit ints

    @property
    def num_bits(self) -> int:
        return len(self.words) * 64

    def might_contain(self, key: bytes) -> bool:
        h1, h2 = murmur3_x64_128(key)
        for bit in bloom_indexes(h1, h2, self.hash_count, self.num_bits):
            if not (self.words[bit >> 6] >> (bit & 63)) & 1:
                return False
        return True

    def _set(self, key: bytes) -> None:
        h1, h2 = murmur3_x64_128(key)
        for bit in bloom_indexes(h1, h2, self.hash_count, self.num_bits):
            self.words[bit >> 6] |= 1 << (bit & 63)


# --------------------------------------------------------------------------
# Encode (fixture/test side)
# --------------------------------------------------------------------------


def build_filter(
    keys: list[bytes], hash_count: int = 5, bits_per_key: int = 10
) -> BloomFilterData:
    words = max(1, -(-(len(keys) * bits_per_key) // 64))
    f = BloomFilterData(hash_count, [0] * words)
    for k in keys:
        f._set(k)
    return f


def encode_filter_db(f: BloomFilterData) -> bytes:
    out = bytearray(struct.pack(">ii", f.hash_count, len(f.words)))
    for w in f.words:
        out += struct.pack(">Q", w)
    return bytes(out)


# --------------------------------------------------------------------------
# Parse (engine side)
# --------------------------------------------------------------------------


def parse_filter_db(buf: bytes, source: str = "<buf>") -> BloomFilterData:
    if len(buf) < 8:
        raise ValueError(
            f"corrupt Filter.db {source}: header needs 8 bytes, file has {len(buf)}"
        )
    hash_count, word_count = struct.unpack_from(">ii", buf, 0)
    if not 1 <= hash_count <= 64:
        raise ValueError(
            f"corrupt Filter.db {source}: implausible hashCount {hash_count}"
        )
    if word_count < 1 or 8 + 8 * word_count != len(buf):
        raise ValueError(
            f"corrupt Filter.db {source}: wordCount {word_count} does not "
            f"match file length {len(buf)} (expected {8 + 8 * max(word_count, 0)})"
        )
    words = list(struct.unpack_from(f">{word_count}Q", buf, 8))
    return BloomFilterData(hash_count, words)


# --------------------------------------------------------------------------
# Distributed scan: per-sstable no-false-negative audit
# --------------------------------------------------------------------------


def bloom_checks(spark: SparkSession, root: str, filenames=None) -> DataFrame:
    """For every sstable with BOTH a Filter.db and an Index.db: test every
    real partition key against the filter. ``present_count < key_count``
    is impossible for a correctly written+read bloom filter (no false
    negatives), so any shortfall means corruption or a byte-order
    mismatch — the one-query audit the module docstring prescribes before
    trusting a foreign directory. One read per sstable; the index side
    streams in 8 MB chunks."""
    from cassandra_sstable_tools_spark.sources.inventory import sstable_pass
    from cassandra_sstable_tools_spark.sources.sstable_binary import (
        stream_parse_index_db,
    )

    def check(sst) -> list[tuple]:
        with sst.open("Filter.db") as f:
            filt = parse_filter_db(f.read(), source=sst.path("Filter.db"))
        if "Index.db" not in sst.components:
            raise ValueError(
                f"Filter.db without sibling Index.db: {sst.path('Filter.db')}"
            )
        total = 0
        present = 0
        with sst.open("Index.db") as f:
            for key, _position in stream_parse_index_db(
                f, version=sst.version, source=sst.path("Index.db")
            ):
                total += 1
                if filt.might_contain(key):
                    present += 1
        return [(filt.hash_count, total, present, present == total)]

    return sstable_pass(
        spark, "bloom_checks", root, filenames, ("Filter.db",), check,
        BLOOM_CHECK_SCHEMA,
    )


# --------------------------------------------------------------------------
# Staged query (r09 registration; see SURVEY §2.9 staging note)
# --------------------------------------------------------------------------

FIXTURE_HASH_COUNT = 5


def bloom_check_cassdir(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Certified wrapper over the planted tree: the fixture writes a real
    filter over each sstable's keys, so the oracle expects present_count
    == key_count == the parquet per-sstable key count — certifying the
    murmur3 variant, the probe schedule and the bitset layout round-trip
    through real files. The cleared-bit differential (a lost bit makes a
    key vanish) lives in tests."""
    from cassandra_sstable_tools_spark.sources.sstable_binary import (
        materialize_index_files,
    )

    root = materialize_index_files(spark, sf_dir)
    return bloom_checks(spark, root)


_ORACLE_BLOOM_TAIL = """
SELECT keyspace, table_name, sstable_id,
       CAST(5 AS INT) AS hash_count,
       count(*) AS key_count,
       count(*) AS present_count,
       TRUE AS all_present
FROM index_entries
GROUP BY 1, 2, 3
"""


def _staged():
    from cassandra_sstable_tools_spark.oracles import with_adapter

    return (
        {"bloom_check_cassdir": bloom_check_cassdir},
        {"bloom_check_cassdir": with_adapter(_ORACLE_BLOOM_TAIL)},
    )


QUERIES, ORACLES = _staged()
