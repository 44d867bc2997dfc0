"""Data.db CELL-grain codec -- decode real rows and cells from data files.

Closes the last reference command family not runnable directory-only (r07
VERDICT Missing #1 / Next-round #1): ``cfstats`` streams rows and cells
(`cassandra/DataReader.java:46-123` via ``ISSTableScanner``,
`cassandra/ColumnFamilyBackend.java:135-156`); until this module the
``--cassandra-dir`` surface stopped at partition headers. This implements
the public Apache Cassandra 3.0+ "big" format unfiltered-stream codec
(``UnfilteredSerializer`` / ``Cell.Serializer`` / ``ClusteringPrefix``
wire formats) for simple AND complex schemas: regular/static simple
columns of fixed- or variable-length types, plus (r09) non-frozen
collections/UDTs -- CellPath-addressed multi-cell columns with their
per-column complex deletion times. Frozen collections are single-cell
simple columns (one vint-length-prefixed blob) and decode through the
variable-length path unchanged.

Format (public knowledge; all vints Cassandra unsigned vints, deltas
against the SerializationHeader's EncodingStats):

    partition block (offset from Index.db):
      [u16 key length][key bytes]
      [int localDeletionTime][long markedForDeleteAt]   # partition deletion
      repeated unfiltereds until flags byte 0x01:
        flags byte: 0x01 END_OF_PARTITION, 0x02 IS_MARKER,
                    0x04 HAS_TIMESTAMP, 0x08 HAS_TTL, 0x10 HAS_DELETION,
                    0x20 HAS_ALL_COLUMNS, 0x40 HAS_COMPLEX_DELETION,
                    0x80 EXTENSION -> extended byte (0x01 IS_STATIC)
        ROW: [clustering values, unless static]
             vint rowBodySize, vint prevUnfilteredSize
             body: [timestamp delta]        if HAS_TIMESTAMP
                   [ttl delta][ldt delta]   if HAS_TTL
                   [mfda delta][ldt delta]  if HAS_DELETION
                   [column subset vint]     if !HAS_ALL_COLUMNS
                   cells: flags byte (0x01 IS_DELETED, 0x02 IS_EXPIRING,
                          0x04 HAS_EMPTY_VALUE, 0x08 USE_ROW_TIMESTAMP,
                          0x10 USE_ROW_TTL)
                          [timestamp delta]              if !USE_ROW_TS
                          [ldt delta]   if (deleted|expiring) & !USE_ROW_TTL
                          [ttl delta]   if expiring & !USE_ROW_TTL
                          [cell path: vint length + bytes]  if the column
                           is complex (non-frozen collection/UDT)
                          [value: raw for fixed-length types, else
                           vint length + bytes]          if !EMPTY_VALUE
                   a COMPLEX column's block replaces the single cell:
                          [complex DeletionTime: mfda delta + ldt delta]
                             if row flag HAS_COMPLEX_DELETION
                          [vint cell count][cells as above, each with path]
        MARKER: [kind ordinal byte][u16 value count][bound values]
                vint markerBodySize, vint prevUnfilteredSize
                one DeletionTime (bounds) or two (boundaries: end, start)

    clustering/bound values: per 32 values one header vint (2 bits each:
    bit 2i = empty, bit 2i+1 = null), then each non-null non-empty value
    (raw if fixed-length type, vint-length-prefixed otherwise).

    column subset vint: 0 = all header columns present; else (superset
    < 64 columns) a bitmap with bit i set for header column i ABSENT.

Row body sizes are written truthfully (size of the fields); the decoder
parses the fields AND then seeks to the declared body end, which on a real
file is a no-op and makes skipping corrupt-tolerant the way Cassandra's
own skippers position.

Spark shape / 100 TB notes: one task per (sstable, shard) (``data_cells``).
Per task: Statistics.db HEADER parse (KB), a streaming Index.db walk
(``sstable_binary.index_spans``) kept as a position array (8
bytes/partition), then per-partition point reads of
[position, next position) -- task memory bounds at one partition block
plus the position array, never the file. The scan is INDEX-DRIVEN rather
than the reference's sequential ``ISSTableScanner``: that makes a Data.db
splittable at partition granularity (a future refinement can shard one
giant sstable's positions across tasks -- the reference's scanner shape
cannot), and it verifies each block's key against the stream. Contents
reduce to cell-grain records executor-side; nothing whole-file ever
reaches the driver.

Reports: this module supplies only the frames -- ``report_cells``
(decoded records, ``cell_size`` = the serialized span) and
``dir_partition_sizes`` (Index.db deltas). The cfstats and purge sections
over them are written once, in queries/cfstats.py and queries/purge.py;
the registered ``*_cassdir`` queries here compose those over the planted
fixture tree, next to their DuckDB oracles.

Fixture notes (materialize_index_files v7/v8): every fixture sstable
carries REAL partition bodies -- each encodable record of the parquet
``cells`` frame serialized through this module's encoder, back-to-back
from the partition's Index.db offset, END-terminated, remaining block
bytes sparse (uncompressed files) or zero bytes in the chunk image
(compressed files, LZ4-chunked through lz4_block.write_chunked_file).
Physical-representability rules the DuckDB oracles mirror:

- partitions with NULL psize have no block (existing v5 rule);
- a partition's records encode only when its byte budget covers worst-case
  encodings: ``psize >= 27 + sum(cost)`` with cost 96 per range tombstone,
  0 per partition delete (header-carried), 64 per other record (the
  encoder RAISES if an actual encoding ever exceeds its bound -- the bound
  is part of the certified contract, not a hope); header + END marker
  always fit (27 <= 64 <= psize) so non-encoded partitions still decode
  as empty;
- per-record: a record needs a writetime; deletion-bearing kinds need a
  local_deletion_time; cell kinds need a cell_name; NULL-flag cells encode
  as live (the engine-wide coalesce-to-0 classification);
- PARTITION_DELETE records collapse to the partition header's single
  (max ldt, max writetime) deletion (existing v5 rule);
- RANGE_TOMBSTONE_MARKER records encode as an INCL_START/INCL_END marker
  pair sharing the record's deletion;
- static cells live in static columns named like their cell_name; counter
  cells in CounterColumnType columns named ``<cell_name>_ctr``; all other
  cells in LongType columns named ``cell_name``, value = the record's
  cell_size as the 8-byte big-endian payload (so the value codec is
  hash-certified), EMPTY when cell_size is NULL.
"""

from __future__ import annotations

import os
import struct
from collections.abc import Iterator
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cassandra_sstable_tools_spark.sources.sstable_binary import (
    IndexCursor,
    index_spans,
    read_unsigned_vint,
    render_key,
    render_typed,
    write_unsigned_vint,
)
from cassandra_sstable_tools_spark.sources.statistics_db import (
    COUNTER_TYPE,
    FIXED_VALUE_LENGTHS,
    LONG_TYPE,
    MAP_UTF8_LONG_TYPE,
    SerializationHeaderInfo,
    is_complex_type,
)

# unfiltered flags
END_OF_PARTITION = 0x01
IS_MARKER = 0x02
HAS_TIMESTAMP = 0x04
HAS_TTL = 0x08
HAS_DELETION = 0x10
HAS_ALL_COLUMNS = 0x20
HAS_COMPLEX_DELETION = 0x40
EXTENSION_FLAG = 0x80
# extended flags
IS_STATIC = 0x01
HAS_SHADOWABLE_DELETION = 0x02
# cell flags
CELL_IS_DELETED = 0x01
CELL_IS_EXPIRING = 0x02
CELL_HAS_EMPTY_VALUE = 0x04
CELL_USE_ROW_TIMESTAMP = 0x08
CELL_USE_ROW_TTL = 0x10
# ClusteringPrefix.Kind ordinals
KIND_EXCL_END_BOUND = 0
KIND_INCL_START_BOUND = 1
KIND_EXCL_END_INCL_START_BOUNDARY = 2
KIND_STATIC_CLUSTERING = 3
KIND_CLUSTERING = 4
KIND_INCL_END_EXCL_START_BOUNDARY = 5
KIND_INCL_END_BOUND = 6
KIND_EXCL_START_BOUND = 7
_OPEN_KINDS = {KIND_INCL_START_BOUND, KIND_EXCL_START_BOUND}
_CLOSE_KINDS = {KIND_INCL_END_BOUND, KIND_EXCL_END_BOUND}
_BOUNDARY_KINDS = {
    KIND_EXCL_END_INCL_START_BOUNDARY,
    KIND_INCL_END_EXCL_START_BOUNDARY,
}

# fixture worst-case encoding bounds (bytes) -- the partition budget rule;
# the encoder raises if an actual encoding exceeds its bound
COST_RTM = 96
COST_ROW = 64
BLOCK_OVERHEAD = 27  # 26-byte partition header + 1-byte END marker


# --------------------------------------------------------------------------
# Header-contextual primitive codec
# --------------------------------------------------------------------------


_U64 = (1 << 64) - 1


def _s64(v: int) -> int:
    """Wrap to signed 64-bit -- deltas use Java long arithmetic, so a
    below-minimum value (e.g. DeletionTime.LIVE's markedForDeleteAt =
    Long.MIN_VALUE against a positive EncodingStats min) round-trips via
    two's-complement wrap, not failure."""
    return ((v + (1 << 63)) & _U64) - (1 << 63)


@__import__("functools").lru_cache(maxsize=131072)
def _enc_delta_cached(v: int, mn: int) -> bytes:
    """Header-delta vint encode, memoized on (value, header min): cells
    of one partition share a writetime and deletion times cluster on a
    handful of values, so the encode kernel re-derives the same
    multi-byte vint tens of times per distinct value (measured 150k
    enc_ts calls over 3k distinct timestamps on the compact_encode
    record set)."""
    return write_unsigned_vint((v - mn) & _U64)


class _Codec:
    """Delta codec bound to one sstable's SerializationHeader. The three
    EncodingStats mins are copied at construction: the codec lives in the
    contents-keyed ``_ENC_PREPS`` memo, so it must not follow later
    mutations of the header object that seeded it."""

    __slots__ = ("min_ts", "min_ldt", "min_ttl")

    def __init__(self, h: SerializationHeaderInfo):
        self.min_ts = h.min_timestamp
        self.min_ldt = h.min_local_deletion_time
        self.min_ttl = h.min_ttl

    def enc_ts(self, ts: int) -> bytes:
        return _enc_delta_cached(ts, self.min_ts)

    def enc_ldt(self, ldt: int) -> bytes:
        return _enc_delta_cached(ldt, self.min_ldt)

    def enc_ttl(self, ttl: int) -> bytes:
        return write_unsigned_vint(ttl - self.min_ttl)


class _BlockReader:
    """Bounds-checked reader over one partition block."""

    def __init__(self, buf: bytes, source: str, base: int):
        self.buf = buf
        self.off = 0
        self.source = source
        self.base = base  # absolute file offset of buf[0], for errors

    def err(self, msg: str) -> ValueError:
        return ValueError(
            f"corrupt Data.db {self.source}: {msg} at byte "
            f"{self.base + self.off}"
        )

    def take(self, n: int) -> bytes:
        if self.off + n > len(self.buf):
            raise self.err(f"read of {n} bytes runs past partition block end")
        b = self.buf[self.off : self.off + n]
        self.off += n
        return b

    def u8(self) -> int:
        return self.take(1)[0]

    def vint(self) -> int:
        try:
            v, self.off = read_unsigned_vint(self.buf, self.off)
        except (IndexError, ValueError):
            raise self.err("vint runs past partition block end") from None
        return v

    def svint(self) -> int:
        v = self.vint()
        return v - (1 << 64) if v >= (1 << 63) else v

    def ts(self, h: SerializationHeaderInfo) -> int:
        return _s64(self.svint() + h.min_timestamp)

    def ldt(self, h: SerializationHeaderInfo) -> int:
        return _s64(self.svint() + h.min_local_deletion_time)

    def ttl(self, h: SerializationHeaderInfo) -> int:
        return self.svint() + h.min_ttl


def _enc_clustering_values(
    values: list[bytes | None], types: list[str]
) -> bytes:
    """serializeValuesWithoutSize: per-32 header vint (2 bits per value:
    bit 2i empty, bit 2i+1 null) + non-null non-empty values."""
    out = bytearray()
    for start in range(0, len(values), 32):
        batch = values[start : start + 32]
        header = 0
        for i, v in enumerate(batch):
            if v is None:
                header |= 1 << (i * 2 + 1)
            elif len(v) == 0:
                header |= 1 << (i * 2)
        out += write_unsigned_vint(header)
        for i, v in enumerate(batch):
            if v is None or len(v) == 0:
                continue
            t = types[start + i]
            fixed = FIXED_VALUE_LENGTHS.get(t)
            if fixed is not None:
                if len(v) != fixed:
                    raise ValueError(
                        f"fixed-length type {t} got {len(v)} bytes"
                    )
                out += v
            else:
                out += write_unsigned_vint(len(v)) + v
    return bytes(out)


def _dec_clustering_values(
    r: _BlockReader, types: list[str]
) -> list[bytes | None]:
    values: list[bytes | None] = []
    for start in range(0, len(types), 32):
        batch_types = types[start : start + 32]
        header = r.vint()
        present: list[bytes | None] = []
        for i, t in enumerate(batch_types):
            if header & (1 << (i * 2 + 1)):
                present.append(None)
            elif header & (1 << (i * 2)):
                present.append(b"")
            else:
                fixed = FIXED_VALUE_LENGTHS.get(t)
                if fixed is not None:
                    present.append(r.take(fixed))
                else:
                    n = r.vint()
                    if n > 1 << 24:
                        raise r.err(f"implausible clustering value length {n}")
                    present.append(r.take(n))
        values.extend(present)
    return values


def _enc_subset(present_idx: list[int], superset_n: int) -> bytes:
    """Columns.serializer.serializeSubset: vint 0 when all present, else a
    bitmap of ABSENT header-column indexes (superset < 64 only -- the
    large-subset encoding is out of simple-schema scope)."""
    if superset_n >= 64:
        raise ValueError("column supersets >= 64 are out of scope")
    if len(present_idx) == superset_n:
        return write_unsigned_vint(0)
    absent = ((1 << superset_n) - 1) & ~sum(1 << i for i in present_idx)
    return write_unsigned_vint(absent)


@__import__("functools").lru_cache(maxsize=4096)
def _enc_subset_cached(present_idx: tuple[int, ...], superset_n: int) -> bytes:
    """`_enc_subset` memo for the encoder's hot shapes (one present
    column per cell-row, or none): a task sees at most header-width
    distinct subsets but encodes one per RECORD (150k calls for ~11
    distinct bitmaps on the compact_encode record set)."""
    return _enc_subset(list(present_idx), superset_n)


def _dec_subset(r: _BlockReader, superset_n: int) -> list[int]:
    if superset_n >= 64:
        raise r.err("column supersets >= 64 are out of scope")
    bitmap = r.vint()
    if bitmap == 0:
        return list(range(superset_n))
    if bitmap >> superset_n:
        raise r.err(f"column subset bitmap {bitmap:#x} wider than header")
    return [i for i in range(superset_n) if not bitmap & (1 << i)]


# --------------------------------------------------------------------------
# Decoded record
# --------------------------------------------------------------------------

DATA_CELLS_SCHEMA = (
    "keyspace string, table_name string, sstable_id string, "
    "partition_key string, kind string, clustering string, "
    "column_name string, cell_path string, writetime bigint, ttl int, "
    "local_deletion_time bigint, is_tombstone boolean, "
    "is_expiring boolean, is_counter boolean, cell_value bigint, "
    "range_start string, range_end string, phys_size bigint, "
    "value_len bigint"
)

_COLS = [
    "keyspace", "table_name", "sstable_id", "partition_key", "kind",
    "clustering", "column_name", "cell_path", "writetime", "ttl",
    "local_deletion_time", "is_tombstone", "is_expiring", "is_counter",
    "cell_value", "range_start", "range_end", "phys_size", "value_len",
]

# the LOSSLESS frame (``data_cells(..., with_values=True)``): the raw cell
# payload bytes and the column's marshal type ride along, so a rewrite
# (sink / executed compaction) can round-trip EVERY payload byte-exactly
# and re-declare the original column types -- ``cell_value`` alone drops
# any payload that is not an 8-byte long (the r09 verdict's silent-EMPTY
# defect). ``value_len`` stays in the base frame as the loud marker: a
# writer seeing value_len != 8 with no value_bytes refuses by name.
DATA_CELLS_VALUES_SCHEMA = (
    DATA_CELLS_SCHEMA
    + ", value_bytes binary, value_marshal string, clustering_marshal string"
)
_COLS_VALUES = _COLS + ["value_bytes", "value_marshal", "clustering_marshal"]

# Arrow mirror of the two DDL schemas above, for the zero-pandas output
# marshal (``_cell_batches``). Spark's DDL->Arrow mapping: string->string,
# bigint->int64, int->int32, boolean->bool, binary->binary.
_PA_FIELDS = [
    ("keyspace", "string"), ("table_name", "string"),
    ("sstable_id", "string"), ("partition_key", "string"),
    ("kind", "string"), ("clustering", "string"),
    ("column_name", "string"), ("cell_path", "string"),
    ("writetime", "int64"), ("ttl", "int32"),
    ("local_deletion_time", "int64"), ("is_tombstone", "bool"),
    ("is_expiring", "bool"), ("is_counter", "bool"),
    ("cell_value", "int64"), ("range_start", "string"),
    ("range_end", "string"), ("phys_size", "int64"),
    ("value_len", "int64"),
]
_PA_FIELDS_VALUES = _PA_FIELDS + [
    ("value_bytes", "binary"), ("value_marshal", "string"),
    ("clustering_marshal", "string"),
]


def _pa_cells_schema(with_values: bool):
    import pyarrow as pa

    mk = {"string": pa.string, "int64": pa.int64, "int32": pa.int32,
          "bool": pa.bool_, "binary": pa.binary}
    fields = _PA_FIELDS_VALUES if with_values else _PA_FIELDS
    return pa.schema([(n, mk[t]()) for n, t in fields])


def _cell_batches(rows, pa_schema, chunk=1 << 16):
    """Row tuples (``_COLS`` order) -> pyarrow RecordBatches.

    Bypasses the pandas DataFrame + nullable-astype construction the old
    mapInPandas marshal paid per task (measured 0.26s -> 0.165s per
    68k-row task): ``pa.array`` on a transposed column is one C loop, and
    None maps to null under every column type identically to the pandas
    path."""
    import itertools

    import pyarrow as pa

    types = [f.type for f in pa_schema]
    it = iter(rows)
    while True:
        part = list(itertools.islice(it, chunk))
        if not part:
            return
        cols = list(zip(*part))
        yield pa.RecordBatch.from_arrays(
            [pa.array(c, type=t) for c, t in zip(cols, types)],
            schema=pa_schema,
        )


@dataclass(slots=True)
class _Rec:
    kind: str
    clustering: str | None = None
    column_name: str | None = None
    cell_path: str | None = None
    writetime: int | None = None
    ttl: int | None = None
    ldt: int | None = None
    is_tombstone: bool = False
    is_expiring: bool = False
    is_counter: bool = False
    cell_value: int | None = None
    range_start: str | None = None
    range_end: str | None = None
    # serialized byte span of this record on disk (see decode docstring for
    # the attribution rules); None for header-resident partition deletes
    phys_size: int | None = None
    # on-disk payload length in bytes (None = empty value); ALWAYS decoded
    # -- this is the frame's loud payload marker (value_len != 8 means
    # cell_value could not carry the payload)
    value_len: int | None = None
    # raw bytes + the column's marshal type, populated only under
    # decode_partition_block(keep_values=True) -- the lossless
    # rewrite/schema-discovery path
    value_bytes: bytes | None = None
    value_marshal: str | None = None
    clustering_vals: tuple | None = None


# record -> row-tuple field pull, one C call per record (order = the _Rec
# field order, which the import-time assertion below pins to match _COLS
# minus the 4-column identity prefix)
_REC_GET = __import__("operator").attrgetter(
    "kind", "clustering", "column_name", "cell_path", "writetime", "ttl",
    "ldt", "is_tombstone", "is_expiring", "is_counter", "cell_value",
    "range_start", "range_end", "phys_size", "value_len",
)
_REC_GET_VALUES = __import__("operator").attrgetter(
    "kind", "clustering", "column_name", "cell_path", "writetime", "ttl",
    "ldt", "is_tombstone", "is_expiring", "is_counter", "cell_value",
    "range_start", "range_end", "phys_size", "value_len", "value_bytes",
    "value_marshal",
)


# clustering/bound values repeat heavily within an sstable (low-cardinality
# clustering columns); memoize their display -- partition keys stay uncached
# (mostly unique). Typed rendering (r09): values display through the
# sstable's OWN header types (render_typed), the validator rendering the
# reference gets from the schema -- text/unknown types keep the historical
# UTF-8-or-hex heuristic, so text schemas (the fixture) are byte-identical.
_display_cached = __import__("functools").lru_cache(maxsize=8192)(
    render_typed
)


def _display(v: bytes | None, marshal_type: str | None = None) -> str | None:
    return None if v is None else _display_cached(v, marshal_type)


@__import__("functools").lru_cache(maxsize=512)
def _path_type_of(ctype: str) -> str | None:
    """CellPath display type of a complex column: a map's KEY type, a
    set's ELEMENT type, a list's TimeUUID position, a UDT's 2-byte field
    position. Memoized -- called per complex CELL on a handful of
    distinct column types."""
    for prefix in (
        "org.apache.cassandra.db.marshal.MapType(",
        "org.apache.cassandra.db.marshal.SetType(",
    ):
        if ctype.startswith(prefix):
            inner = ctype[len(prefix):-1]
            # first top-level comma-separated parameter
            depth = 0
            for i, ch in enumerate(inner):
                if ch == "(":
                    depth += 1
                elif ch == ")":
                    depth -= 1
                elif ch == "," and depth == 0:
                    return inner[:i]
            return inner
    if ctype.startswith("org.apache.cassandra.db.marshal.ListType("):
        return "org.apache.cassandra.db.marshal.TimeUUIDType"
    if ctype.startswith("org.apache.cassandra.db.marshal.UserType("):
        # non-frozen UDT paths hold the 2-byte field position
        return "org.apache.cassandra.db.marshal.ShortType"
    return None


def _display_clustering(
    vals: list[bytes | None], types: list[str] | None = None
) -> str | None:
    """Rendered clustering position: the single value's display for
    1-column clusterings (the overwhelmingly common shape and the fixture
    schema -- byte-identical to the historical rendering), ':'-joined
    per-column displays for composite clusterings (NULL components render
    empty, matching the composite key-renderer convention). ``types``
    (the header's clustering types) upgrade each component to its
    validator-typed display.

    Under a MULTI-component header even an arity-1 value (a prefix
    bound) renders through the escaped-join branch (r11 review finding:
    the unescaped single render made 1-component bound 'a:b' collide
    with 2-component ('a','b'), so a compaction rewrite silently
    re-split a text bound containing ':' into two components -- the
    escape keeps the display INJECTIVE per header, and the writer's
    split+re-render verify is sound again)."""
    if not vals:
        return None

    def t(i: int) -> str | None:
        return types[i] if types and i < len(types) else None

    if len(vals) == 1 and (types is None or len(types) <= 1):
        return _display(vals[0], t(0))
    # escape literal colons per component so the joined rendering stays
    # INJECTIVE -- downstream merge identities (row_key, the purge LWW
    # key) are built from this string, and ('a:b','c') must never collide
    # with ('a','b:c'); same convention as the composite key renderer
    return ":".join(
        "" if v is None
        else (_display(v, t(i)) or "").replace(":", "\\:")
        for i, v in enumerate(vals)
    )


def _value_as_long(v: bytes) -> int | None:
    """Decoded display of a cell payload: 8-byte values as a signed BE
    long (the fixture schema's LongType / counter stand-in), anything
    else NULL -- typed rendering of arbitrary schemas is display-layer
    work, not codec work."""
    if len(v) == 8:
        return struct.unpack(">q", v)[0]
    return None


# --------------------------------------------------------------------------
# Decode: one partition block -> records
# --------------------------------------------------------------------------

LIVE_LDT = 2_147_483_647
LIVE_MFDA = -(1 << 63)

# partition-header DeletionTime: int32 localDeletionTime + int64
# markedForDeleteAt, big-endian; unpack_from avoids the take() slice copy
_UNPACK_IQ = struct.Struct(">iq").unpack_from

# _Rec is constructed POSITIONALLY on the hot cell path (kwargs construction
# measured ~2x the positional cost at 60k+ cells per task); pin the field
# order the positional sites assume so a field reorder fails at import, not
# as silent column swaps.
_REC_FIELDS = tuple(
    f.name for f in __import__("dataclasses").fields(_Rec)
)
# explicit raise, not a bare assert: `python -O` strips asserts, and this
# pin is what turns a field reorder into an import error instead of silent
# column swaps in every decoded row (r12 ADVICE)
if _REC_FIELDS != (
    "kind", "clustering", "column_name", "cell_path", "writetime", "ttl",
    "ldt", "is_tombstone", "is_expiring", "is_counter", "cell_value",
    "range_start", "range_end", "phys_size", "value_len", "value_bytes",
    "value_marshal", "clustering_vals",
):
    raise AssertionError(
        f"_Rec field order changed: {_REC_FIELDS} -- the positional "
        "construction sites in the decode hot path assume the pinned order"
    )


class _HeaderPrep:
    """Per-header decode tables, derived once per sstable (cached on the
    header object): per-column (name, type, complexity, fixed length,
    counter-ness, path type) resolved ahead of the per-cell loop, and the
    clustering types' fixed lengths -- the per-cell dict probes and
    ``is_complex_type`` string scans the old inner loop paid per CELL
    (optimization guide S1.2, per-task work)."""

    __slots__ = ("ct_list", "ct_fixed", "reg_info", "sta_info",
                 "full_reg", "full_sta", "min_ts", "min_ldt", "min_ttl")

    def __init__(self, h: SerializationHeaderInfo):
        self.ct_list = list(h.clustering_types)
        self.ct_fixed = [FIXED_VALUE_LENGTHS.get(t) for t in self.ct_list]

        def info(cols):
            return [
                (name, ctype, is_complex_type(ctype),
                 FIXED_VALUE_LENGTHS.get(ctype), ctype == COUNTER_TYPE,
                 _path_type_of(ctype) if is_complex_type(ctype) else None)
                for name, ctype in cols
            ]

        self.reg_info = info(h.regular_columns)
        self.sta_info = info(h.static_columns)
        self.full_reg = tuple(range(len(self.reg_info)))
        self.full_sta = tuple(range(len(self.sta_info)))
        self.min_ts = h.min_timestamp
        self.min_ldt = h.min_local_deletion_time
        self.min_ttl = h.min_ttl


def _header_prep(h: SerializationHeaderInfo) -> _HeaderPrep:
    """FREEZE CONTRACT (r12 ADVICE): the prep caches on the header OBJECT,
    so the first decode freezes the header's column/min tables -- callers
    must not mutate a SerializationHeaderInfo after any block of its
    sstable has decoded (statistics_db only mutates between parse and
    first use; the writer-side twin, ``_encode_prep``, is contents-keyed
    instead because writers legitimately rebuild headers)."""
    prep = getattr(h, "_decode_prep", None)
    if prep is None:
        prep = _HeaderPrep(h)
        h._decode_prep = prep
    return prep


@__import__("functools").lru_cache(maxsize=4096)
def _dec_subset_cached(bitmap: int, superset_n: int) -> tuple[int, ...]:
    """Present-column indexes for a subset bitmap -- one sstable sees a
    handful of distinct bitmaps but decodes one per ROW."""
    return tuple(
        i for i in range(superset_n) if not bitmap & (1 << i)
    )


def _dec_clustering_fast(
    buf, off: int, blen: int, ct_list, ct_fixed, r: "_BlockReader",
    arity: int,
):
    """``_dec_clustering_values`` with the reader primitives inlined:
    identical wire semantics (per-32 header vint, 2 bits per value) and
    identical errors (r.off is synced before every raise so byte offsets
    in messages are unchanged). Returns (values, new_off)."""
    values: list[bytes | None] = []
    append = values.append
    for start in range(0, arity, 32):
        hi = min(arity, start + 32)
        try:
            header, off = read_unsigned_vint(buf, off)
        except (IndexError, ValueError):
            r.off = off
            raise r.err("vint runs past partition block end") from None
        for i in range(start, hi):
            bit = (i - start) * 2
            if header & (2 << bit):
                append(None)
            elif header & (1 << bit):
                append(b"")
            else:
                fixed = ct_fixed[i]
                if fixed is None:
                    try:
                        n, off = read_unsigned_vint(buf, off)
                    except (IndexError, ValueError):
                        r.off = off
                        raise r.err(
                            "vint runs past partition block end"
                        ) from None
                    if n > 1 << 24:
                        r.off = off
                        raise r.err(
                            f"implausible clustering value length {n}"
                        )
                else:
                    n = fixed
                end = off + n
                if end > blen:
                    r.off = off
                    raise r.err(
                        f"read of {n} bytes runs past partition block end"
                    )
                append(buf[off:end])
                off = end
    return values, off


def _parse_cell(
    buf, off: int, blen: int, r: "_BlockReader",
    name: str, ctype: str, fixed, is_ctr: bool, path_type,
    is_complex: bool,
    live_ts, live_ttl, live_ldt, min_ts, min_ldt, min_ttl,
    kind: str, clustering, clust_vals, keep_values: bool,
    recs: list, cell_spans: list,
) -> int:
    """One cell (simple or CellPath-addressed): the shared body of the old
    per-row ``read_cell`` closure, hoisted to module level with the reader
    primitives inlined. Returns the new offset; appends the record and its
    span exactly as before."""
    cell_start = off
    if off >= blen:
        r.off = off
        raise r.err("read of 1 bytes runs past partition block end")
    cflags = buf[off]
    off += 1
    if cflags & CELL_USE_ROW_TIMESTAMP:
        c_ts = live_ts
    else:
        try:
            v, off = read_unsigned_vint(buf, off)
        except (IndexError, ValueError):
            r.off = off
            raise r.err("vint runs past partition block end") from None
        if v >= 1 << 63:
            v -= 1 << 64
        c_ts = ((v + min_ts + (1 << 63)) & _U64) - (1 << 63)
    deleted = bool(cflags & CELL_IS_DELETED)
    expiring = bool(cflags & CELL_IS_EXPIRING)
    c_ldt = c_ttl = None
    if (deleted or expiring) and not cflags & CELL_USE_ROW_TTL:
        try:
            v, off = read_unsigned_vint(buf, off)
        except (IndexError, ValueError):
            r.off = off
            raise r.err("vint runs past partition block end") from None
        if v >= 1 << 63:
            v -= 1 << 64
        c_ldt = ((v + min_ldt + (1 << 63)) & _U64) - (1 << 63)
    if expiring and not cflags & CELL_USE_ROW_TTL:
        try:
            v, off = read_unsigned_vint(buf, off)
        except (IndexError, ValueError):
            r.off = off
            raise r.err("vint runs past partition block end") from None
        if v >= 1 << 63:
            v -= 1 << 64
        c_ttl = v + min_ttl
    if cflags & CELL_USE_ROW_TTL:
        c_ldt, c_ttl = live_ldt, live_ttl
    path = None
    if is_complex:
        # CellPath (collection key / set element / UDT field position):
        # vint length + bytes, between the liveness fields and the value
        try:
            n, off = read_unsigned_vint(buf, off)
        except (IndexError, ValueError):
            r.off = off
            raise r.err("vint runs past partition block end") from None
        if n > 1 << 24:
            r.off = off
            raise r.err(f"implausible cell path length {n}")
        end = off + n
        if end > blen:
            r.off = off
            raise r.err(f"read of {n} bytes runs past partition block end")
        path = buf[off:end]
        off = end
    value = None
    if not cflags & CELL_HAS_EMPTY_VALUE:
        if fixed is not None:
            n = fixed
        else:
            try:
                n, off = read_unsigned_vint(buf, off)
            except (IndexError, ValueError):
                r.off = off
                raise r.err("vint runs past partition block end") from None
            if n > 1 << 28:
                r.off = off
                raise r.err(f"implausible cell value length {n}")
        end = off + n
        if end > blen:
            r.off = off
            raise r.err(f"read of {n} bytes runs past partition block end")
        value = buf[off:end]
        off = end
    cell_spans.append(off - cell_start)
    recs.append(_Rec(
        kind,                                              # kind
        clustering,                                        # clustering
        name,                                              # column_name
        None if path is None else _display_cached(path, path_type),
        c_ts,                                              # writetime
        c_ttl,                                             # ttl
        c_ldt,                                             # ldt
        deleted,                                           # is_tombstone
        expiring,                                          # is_expiring
        is_ctr,                                            # is_counter
        (struct.unpack(">q", value)[0]
         if value is not None and len(value) == 8 else None),
        None,                                              # range_start
        None,                                              # range_end
        off - cell_start,                                  # phys_size
        None if value is None else len(value),             # value_len
        value if keep_values else None,                    # value_bytes
        ctype if keep_values else None,                    # value_marshal
        clust_vals,                                        # clustering_vals
    ))
    return off


def decode_partition_block(
    buf: bytes,
    h: SerializationHeaderInfo,
    source: str = "<bytes>",
    base: int = 0,
    keep_values: bool = False,
) -> tuple[str, list[_Rec]]:
    """Decode one partition block -> (rendered key, records). Records:
    one per cell, plus ROW_DELETE / ROW_MARKER for cell-less row state,
    RANGE_TOMBSTONE_MARKER per open/close marker pair, PARTITION_DELETE
    when the header deletion is not LIVE.

    ``phys_size`` attribution (deterministic, the purge input): a row
    yielding exactly ONE record gives it the row's whole serialized span;
    a multi-record row gives each cell its own byte slice, the ROW_DELETE
    record (if any) the remaining row overhead, else the overhead goes to
    the first cell. A range tombstone's span is its open + close marker
    bytes (a boundary marker's bytes go to the range it CLOSES). Header
    partition deletes have no stream bytes: phys_size is NULL."""
    r = _BlockReader(buf, source, base)
    blen = len(buf)
    off = 0
    prep = _header_prep(h)
    ct_list, ct_fixed = prep.ct_list, prep.ct_fixed
    n_ct = len(ct_list)
    ct0 = ct_list[0] if n_ct == 1 else None
    min_ts, min_ldt, min_ttl = prep.min_ts, prep.min_ldt, prep.min_ttl
    _ruv = read_unsigned_vint
    _disp = _display_cached

    # klen (2-byte BE) + key + partition DeletionTime
    if off + 2 > blen:
        r.off = off
        raise r.err("read of 2 bytes runs past partition block end")
    klen = (buf[off] << 8) | buf[off + 1]
    off += 2
    if off + klen > blen:
        r.off = off
        raise r.err(f"read of {klen} bytes runs past partition block end")
    key = buf[off : off + klen]
    off += klen
    pk = render_typed(key, h.key_type)
    if off + 12 > blen:
        r.off = off
        raise r.err("read of 12 bytes runs past partition block end")
    p_ldt, p_mfda = _UNPACK_IQ(buf, off)
    off += 12
    recs: list[_Rec] = []
    if (p_ldt, p_mfda) != (LIVE_LDT, LIVE_MFDA):
        recs.append(
            _Rec(kind="PARTITION_DELETE", writetime=p_mfda, ldt=p_ldt)
        )
    pending_open: tuple[str | None, int, int, int] | None = None
    guard = 0
    while True:
        guard += 1
        if guard > 100_000_000:
            r.off = off
            raise r.err("unfiltered stream exceeds 1e8 entries")
        unf_start = off
        if off >= blen:
            r.off = off
            raise r.err("read of 1 bytes runs past partition block end")
        flags = buf[off]
        off += 1
        if flags & END_OF_PARTITION:
            break
        if flags & IS_MARKER:
            if off >= blen:
                r.off = off
                raise r.err("read of 1 bytes runs past partition block end")
            kind_ord = buf[off]
            off += 1
            if off + 2 > blen:
                r.off = off
                raise r.err("read of 2 bytes runs past partition block end")
            n_vals = (buf[off] << 8) | buf[off + 1]
            off += 2
            if n_vals > n_ct:
                r.off = off
                raise r.err(
                    f"bound arity {n_vals} exceeds {n_ct} "
                    "clustering columns"
                )
            vals, off = _dec_clustering_fast(
                buf, off, blen, ct_list, ct_fixed, r, n_vals
            )
            try:
                body_size, off = _ruv(buf, off)
                _, off = _ruv(buf, off)  # prevUnfilteredSize (reverse only)
            except (IndexError, ValueError):
                r.off = off
                raise r.err("vint runs past partition block end") from None
            body_end = off + body_size
            marker_span = body_end - unf_start
            # every marker kind reads 2 or 4 delta-vint deletion fields
            if kind_ord in _BOUNDARY_KINDS:
                try:
                    _, off = _ruv(buf, off)   # end mfda (belongs to the
                    _, off = _ruv(buf, off)   # RT being closed; captured
                    v, off = _ruv(buf, off)   # from its open marker)
                    w, off = _ruv(buf, off)
                except (IndexError, ValueError):
                    r.off = off
                    raise r.err("vint runs past partition block end") from None
                if v >= 1 << 63:
                    v -= 1 << 64
                start_mfda = ((v + min_ts + (1 << 63)) & _U64) - (1 << 63)
                if w >= 1 << 63:
                    w -= 1 << 64
                start_ldt = ((w + min_ldt + (1 << 63)) & _U64) - (1 << 63)
                if pending_open is not None:
                    # boundary bytes go to the range being CLOSED
                    recs.append(_rtm(pending_open, vals, marker_span,
                                     ct_list))
                pending_open = (_display_clustering(vals, ct_list),
                                start_mfda, start_ldt, 0)
            elif kind_ord in _OPEN_KINDS:
                try:
                    v, off = _ruv(buf, off)
                    w, off = _ruv(buf, off)
                except (IndexError, ValueError):
                    r.off = off
                    raise r.err("vint runs past partition block end") from None
                if v >= 1 << 63:
                    v -= 1 << 64
                mfda = ((v + min_ts + (1 << 63)) & _U64) - (1 << 63)
                if w >= 1 << 63:
                    w -= 1 << 64
                ldt = ((w + min_ldt + (1 << 63)) & _U64) - (1 << 63)
                if pending_open is not None:
                    r.off = off
                    raise r.err("two open range-tombstone bounds in a row")
                pending_open = (_display_clustering(vals, ct_list), mfda,
                                ldt, marker_span)
            elif kind_ord in _CLOSE_KINDS:
                try:
                    _, off = _ruv(buf, off)  # close-side copy of the
                    _, off = _ruv(buf, off)  # deletion
                except (IndexError, ValueError):
                    r.off = off
                    raise r.err("vint runs past partition block end") from None
                if pending_open is None:
                    r.off = off
                    raise r.err("close range-tombstone bound without an open")
                recs.append(_rtm(pending_open, vals, marker_span,
                                     ct_list))
                pending_open = None
            else:
                r.off = off
                raise r.err(f"unexpected bound kind ordinal {kind_ord}")
            if off > body_end:
                r.off = off
                raise r.err("marker body overran its declared size")
            off = body_end
            continue
        # ROW
        static = False
        if flags & EXTENSION_FLAG:
            if off >= blen:
                r.off = off
                raise r.err("read of 1 bytes runs past partition block end")
            ext = buf[off]
            off += 1
            if ext & HAS_SHADOWABLE_DELETION:
                r.off = off
                raise r.err("shadowable deletions are out of scope")
            static = bool(ext & IS_STATIC)
        clustering: str | None = None
        clust_vals: tuple | None = None
        if not static:
            vals, off = _dec_clustering_fast(
                buf, off, blen, ct_list, ct_fixed, r, n_ct
            )
            if n_ct == 1:
                v0 = vals[0]
                clustering = None if v0 is None else _disp(v0, ct0)
            else:
                clustering = _display_clustering(vals, ct_list)
            if keep_values:
                clust_vals = tuple(vals)
        try:
            body_size, off = _ruv(buf, off)
            _, off = _ruv(buf, off)  # prevUnfilteredSize
        except (IndexError, ValueError):
            r.off = off
            raise r.err("vint runs past partition block end") from None
        body_end = off + body_size
        live_ts = live_ttl = live_ldt = None
        if flags & HAS_TIMESTAMP:
            try:
                v, off = _ruv(buf, off)
            except (IndexError, ValueError):
                r.off = off
                raise r.err("vint runs past partition block end") from None
            if v >= 1 << 63:
                v -= 1 << 64
            live_ts = ((v + min_ts + (1 << 63)) & _U64) - (1 << 63)
        if flags & HAS_TTL:
            try:
                v, off = _ruv(buf, off)
                w, off = _ruv(buf, off)
            except (IndexError, ValueError):
                r.off = off
                raise r.err("vint runs past partition block end") from None
            if v >= 1 << 63:
                v -= 1 << 64
            live_ttl = v + min_ttl
            if w >= 1 << 63:
                w -= 1 << 64
            live_ldt = ((w + min_ldt + (1 << 63)) & _U64) - (1 << 63)
        row_del: tuple[int, int] | None = None
        if flags & HAS_DELETION:
            try:
                v, off = _ruv(buf, off)
                w, off = _ruv(buf, off)
            except (IndexError, ValueError):
                r.off = off
                raise r.err("vint runs past partition block end") from None
            if v >= 1 << 63:
                v -= 1 << 64
            if w >= 1 << 63:
                w -= 1 << 64
            row_del = (
                ((v + min_ts + (1 << 63)) & _U64) - (1 << 63),
                ((w + min_ldt + (1 << 63)) & _U64) - (1 << 63),
            )
        col_info = prep.sta_info if static else prep.reg_info
        n_cols = len(col_info)
        if flags & HAS_ALL_COLUMNS:
            present = prep.full_sta if static else prep.full_reg
        else:
            if n_cols >= 64:
                r.off = off
                raise r.err("column supersets >= 64 are out of scope")
            try:
                bitmap, off = _ruv(buf, off)
            except (IndexError, ValueError):
                r.off = off
                raise r.err("vint runs past partition block end") from None
            if bitmap == 0:
                present = prep.full_sta if static else prep.full_reg
            else:
                if bitmap >> n_cols:
                    r.off = off
                    raise r.err(
                        f"column subset bitmap {bitmap:#x} wider than header"
                    )
                present = _dec_subset_cached(bitmap, n_cols)
        n_cells = 0
        row_first_rec = len(recs)
        cell_spans: list[int] = []
        row_kind = "STATIC_CELL" if static else "CELL"

        for idx in present:
            name, ctype, is_cplx, fixed, is_ctr, path_type = col_info[idx]
            if not is_cplx:
                off = _parse_cell(
                    buf, off, blen, r, name, ctype, fixed, is_ctr,
                    path_type, False, live_ts, live_ttl, live_ldt,
                    min_ts, min_ldt, min_ttl, row_kind, clustering,
                    clust_vals, keep_values, recs, cell_spans,
                )
                n_cells += 1
                continue
            # complex column block: optional per-column complex deletion
            # (only when the ROW-level flag says any is present), then a
            # vint cell count, then CellPath-addressed cells
            blk_start = off
            if flags & HAS_COMPLEX_DELETION:
                try:
                    v, off = _ruv(buf, off)
                    w, off = _ruv(buf, off)
                except (IndexError, ValueError):
                    r.off = off
                    raise r.err("vint runs past partition block end") from None
                if v >= 1 << 63:
                    v -= 1 << 64
                cd_mfda = ((v + min_ts + (1 << 63)) & _U64) - (1 << 63)
                if w >= 1 << 63:
                    w -= 1 << 64
                cd_ldt = ((w + min_ldt + (1 << 63)) & _U64) - (1 << 63)
                if (cd_ldt, cd_mfda) != (LIVE_LDT, LIVE_MFDA):
                    recs.append(_Rec(
                        kind="COMPLEX_DELETE",
                        clustering=clustering,
                        column_name=name,
                        writetime=cd_mfda,
                        ldt=cd_ldt,
                        is_tombstone=True,
                        phys_size=off - blk_start,
                        # carry the column type so a rewrite re-declares
                        # it even when the deletion is the column's only
                        # survivor (review finding: the map<text,bigint>
                        # default silently re-typed such columns)
                        value_marshal=ctype if keep_values else None,
                    ))
                    cell_spans.append(off - blk_start)
            try:
                col_cells, off = _ruv(buf, off)
            except (IndexError, ValueError):
                r.off = off
                raise r.err("vint runs past partition block end") from None
            if col_cells > 1 << 24:
                r.off = off
                raise r.err(f"implausible complex cell count {col_cells}")
            for _ in range(col_cells):
                off = _parse_cell(
                    buf, off, blen, r, name, ctype, fixed, is_ctr,
                    path_type, True, live_ts, live_ttl, live_ldt,
                    min_ts, min_ldt, min_ttl, row_kind, clustering,
                    clust_vals, keep_values, recs, cell_spans,
                )
                n_cells += 1
        if n_cells == 0:
            if row_del is not None:
                recs.append(_Rec(
                    kind="ROW_DELETE", clustering=clustering,
                    writetime=row_del[0], ldt=row_del[1],
                ))
            elif live_ts is not None:
                recs.append(_Rec(
                    kind="ROW_MARKER", clustering=clustering,
                    writetime=live_ts, ttl=live_ttl, ldt=live_ldt,
                ))
        elif row_del is not None:
            recs.append(_Rec(
                kind="ROW_DELETE", clustering=clustering,
                writetime=row_del[0], ldt=row_del[1],
            ))
        if off > body_end:
            r.off = off
            raise r.err("row body overran its declared size")
        off = body_end
        # phys_size attribution (docstring rules): single-record rows own
        # the whole unfiltered span; otherwise the overhead (everything
        # but the cell slices) goes to the ROW_DELETE record when present,
        # else onto the first cell
        row_recs = recs[row_first_rec:]
        unf_span = body_end - unf_start
        if len(row_recs) == 1:
            row_recs[0].phys_size = unf_span
        elif row_recs:
            overhead = unf_span - sum(cell_spans)
            if row_recs[-1].kind == "ROW_DELETE":
                row_recs[-1].phys_size = overhead
            else:
                row_recs[0].phys_size = (row_recs[0].phys_size or 0) + overhead
    if pending_open is not None:
        r.off = off
        raise r.err("partition ended with an unclosed range tombstone")
    return pk, recs


def _rtm(open_state: tuple[str | None, int, int, int],
         close_vals: list[bytes | None], close_span: int,
         clustering_types: list[str] | None = None) -> _Rec:
    start, mfda, ldt, open_span = open_state
    return _Rec(
        kind="RANGE_TOMBSTONE_MARKER",
        writetime=mfda,
        ldt=ldt,
        range_start=start,
        range_end=_display_clustering(close_vals, clustering_types),
        phys_size=open_span + close_span,
    )


# --------------------------------------------------------------------------
# Encode (fixture/test side): cells-frame records -> partition body bytes
# --------------------------------------------------------------------------


def record_cost_bound(kind: str) -> int:
    if kind == "RANGE_TOMBSTONE_MARKER":
        return COST_RTM
    if kind == "PARTITION_DELETE":
        return 0
    return COST_ROW


# the deterministic simple->complex fixture transform (v12): regular
# non-counter cells of this source column plant as MAP cells in the
# non-frozen m0 column, path 'k' || abs(writetime) % 10 -- mirrored in SQL
# by _span_sql/_phys_ctes so the oracle predicts column, path AND bytes
FIXTURE_COMPLEX_SOURCE = "c4"
FIXTURE_COMPLEX_COLUMN = "m0"


def fixture_complex_path(rec: dict) -> str | None:
    if (
        rec["kind"] == "CELL"
        and not rec.get("is_counter")
        and rec["cell_name"] == FIXTURE_COMPLEX_SOURCE
    ):
        return f"k{abs(int(rec['writetime'])) % 10}"
    return None


def record_encodable(rec: dict) -> bool:
    """Record-grain encodability (the oracle mirrors this in SQL)."""
    kind = rec["kind"]
    if kind == "PARTITION_DELETE":
        return False  # header-carried, never in the unfiltered stream
    if rec["writetime"] is None:
        return False
    if kind in ("ROW_DELETE", "RANGE_TOMBSTONE_MARKER", "COMPLEX_DELETE"):
        return rec["local_deletion_time"] is not None
    if kind in ("CELL", "STATIC_CELL"):
        if rec["cell_name"] is None:
            return False
        tomb = bool(rec["is_tombstone"])
        expiring = rec["ttl"] is not None
        if (tomb or expiring) and rec["local_deletion_time"] is None:
            return False
    return True


def _utf8_or_none(s: str | None) -> bytes | None:
    return None if s is None else s.encode("utf-8")


# inverse of render_typed for ONE clustering component -- the writer's
# typed-clustering encode (marshal class name -> display parser). Only
# types whose renderer this engine models are invertible; everything else
# refuses loudly rather than writing bytes that re-render differently.
# marshal class -> the shared sstable_binary display inverse (one
# implementation per type, keyed by its key_encoder alias -- a review
# finding removed the hand-rolled numeric/uuid duplicates that could
# drift from the alias implementations)
_MARSHAL_ENCODER_ALIASES = {
    "AsciiType": "string",
    "LongType": "long",
    "Int32Type": "int",
    "ShortType": "smallint",
    "ByteType": "tinyint",
    "UUIDType": "uuid",
    "TimeUUIDType": "timeuuid",
    "BytesType": "hex",
    "BooleanType": "boolean",
    "SimpleDateType": "date",
    "TimeType": "time",
    # r11: the documented-approximate ISO-8601 render (see
    # sstable_binary._render_timestamp's exactness caveat) is a verified
    # bijection, so timestamp clusterings/paths are writable too
    "TimestampType": "timestamp",
    "InetAddressType": "inet",
    "IntegerType": "varint",
    # r12: decimal clusterings (the r11 verdict's most plausible refused
    # type) -- plain-notation displays only (the renderer's exact regime)
    "DecimalType": "decimal",
}
_CLUSTERING_ENCODERS = _MARSHAL_ENCODER_ALIASES  # public name (writer docs)


@__import__("functools").lru_cache(maxsize=65536)
def clustering_value_bytes(display: str | None, ctype: str | None) -> bytes | None:
    """display -> value bytes under a marshal type, verified to re-render
    as the same display (a mis-inversion fails LOUD instead of writing a
    value that reads back differently -- same contract as the writer's
    partition-key inverse). Serves the writer's clustering components AND
    complex-column cell paths. Memoized: clustering/path displays repeat
    heavily, and write_sstable encodes each record's display twice (stats
    min/max + the cell codec)."""
    if display is None:
        return None
    cls = (ctype or "").rsplit(".", 1)[-1] or "UTF8Type"
    if cls in ("UTF8Type", ""):
        return display.encode("utf-8")  # identity round-trip by construction
    alias = _MARSHAL_ENCODER_ALIASES.get(cls)
    if alias is None:
        raise ValueError(
            f"type {ctype!r} has no display inverse in this writer "
            f"(supported: {sorted(_MARSHAL_ENCODER_ALIASES)})"
        )
    from cassandra_sstable_tools_spark.sources.sstable_binary import (
        key_encoder,
    )

    try:
        b = key_encoder(alias)(display)
    except (ValueError, OverflowError) as ex:
        # The typed renderer itself FALLS BACK to render_key outside its
        # exact regime (wrong-width fixed types, scientific-regime
        # decimals) -- so the inverse must mirror that fallback or a real
        # tree carrying such a value dies mid-compaction (r12 review
        # finding: a DecimalType clustering of 1E+3 renders '0x...' and
        # the plain-notation parser refused it). HEX displays only: a
        # '0x' literal whose raw bytes re-render to the same display
        # under THIS type is unambiguously the fallback render of those
        # bytes, so accepting them preserves the byte<->display
        # bijection. A PRINTABLE fallback display stays refused -- it is
        # indistinguishable from a user typo ('not-an-int' under
        # Int32Type), and writing its UTF-8 bytes under a typed header
        # is the garbage-write this refusal exists to prevent.
        if display.startswith("0x"):
            try:
                cand = bytes.fromhex(display[2:])
            except ValueError:
                cand = None
            if cand is not None and render_typed(cand, ctype) == display:
                return cand
        raise ValueError(
            f"display {display!r} does not parse as {cls} ({ex})"
        ) from ex
    if render_typed(b, ctype) != display:
        raise ValueError(
            f"display {display!r} does not survive the {cls} encoding "
            f"round-trip (re-renders as {render_typed(b, ctype)!r})"
        )
    return b


# --------------------------------------------------------------------------
# Comparator model: the writer must order rows (and Statistics.db min/max
# bounds) by the DECLARED comparator, not by display strings -- under
# LongType, '10' < '2' lexically but 2 < 10 numerically, and a misordered
# tree silently breaks Cassandra slice reads and merges (r10 ADVICE).
# --------------------------------------------------------------------------

# marshal classes whose ENCODED bytes already memcmp in comparator order
_IDENTITY_CMP = frozenset({
    "UTF8Type",      # UTF-8 byte order == code-point order
    "AsciiType",
    "BytesType",     # unsigned byte comparison by definition
    "BooleanType",   # 0x00 false < 0x01 true
    "SimpleDateType",  # unsigned 32-bit (epoch-centered) comparison
    "InetAddressType",  # unsigned byte comparison
})
# signed fixed-width big-endian: numeric order == byte order with the
# sign bit flipped
_SIGNED_FIXED_CMP = frozenset({
    "LongType", "Int32Type", "ShortType", "ByteType",
    "TimeType",       # long nanos-of-day, signed long comparison
    "TimestampType",  # long millis-since-epoch, signed long comparison
})


def _uuid_timestamp_key(b: bytes) -> bytes:
    """v1 wire layout scatters the 60-bit timestamp (time_low 0-3,
    time_mid 4-5, version|time_hi 6-7); reassemble it big-endian so
    memcmp order == timestamp order."""
    return bytes((b[6] & 0x0F, b[7], b[4], b[5], b[0], b[1], b[2], b[3]))


def comparator_key(vb: bytes | None, ctype: str | None) -> bytes:
    """Encoded component bytes -> a memcmp key whose unsigned-byte order
    equals the declared comparator's order. Total over the writable type
    set (everything ``clustering_value_bytes`` can produce); anything
    else refuses loudly -- a wrong sort order is silent corruption, the
    one failure mode this writer never risks. None (null component) and
    the empty value both map to b'' (both sort before every value)."""
    if not vb:
        return b""
    cls = (ctype or "").rsplit(".", 1)[-1] or "UTF8Type"
    if cls in _IDENTITY_CMP:
        return vb
    if cls in _SIGNED_FIXED_CMP:
        return bytes([vb[0] ^ 0x80]) + vb[1:]
    if cls == "IntegerType":
        # minimal two's-complement varint: negatives sort below
        # positives; within a sign, magnitude grows with LENGTH (longer
        # positive is bigger, longer negative is smaller), then same-
        # length two's-complement bytes compare unsigned correctly
        if vb[0] & 0x80:
            return b"\x00" + struct.pack(">I", 0xFFFFFFFF - len(vb)) + vb
        return b"\x01" + struct.pack(">I", len(vb)) + vb
    if cls == "DecimalType":
        # DecimalType.compareCustom == BigDecimal.compareTo: NUMERIC
        # comparison, scale-insensitive ('1.50' == '1.5'). Memcmp key:
        # sign class byte (neg 0x00 < zero 0x01 < pos 0x02), then for
        # nonzero values a sign-flipped int64 "adjusted exponent" (the
        # power of 10 of the leading digit; NEGATED for negatives so a
        # larger magnitude sorts smaller), then the normalized mantissa
        # digits (trailing zeros stripped -- '0.d...' in [0.1, 1), where
        # lexicographic digit order == numeric order; digits COMPLEMENTED
        # for negatives), then a terminator picked per sign so a mantissa
        # that PREFIXES a longer one sorts on the next digit correctly
        # (0x00 < '0'..'9' for positives, 0xFF > '9' for negatives).
        if len(vb) < 5:
            raise ValueError(
                f"malformed DecimalType value ({len(vb)} bytes; "
                "[int32 scale][unscaled] needs >= 5)"
            )
        scale = int.from_bytes(vb[:4], "big", signed=True)
        unscaled = int.from_bytes(vb[4:], "big", signed=True)
        if unscaled == 0:
            return b"\x01"
        digits = str(abs(unscaled))
        norm = digits.rstrip("0")
        exp = len(digits) - scale
        if unscaled > 0:
            ekey = struct.pack(">q", exp)
            return (
                b"\x02" + bytes([ekey[0] ^ 0x80]) + ekey[1:]
                + norm.encode("ascii") + b"\x00"
            )
        ekey = struct.pack(">q", -exp)
        comp = bytes(0x39 - (d - 0x30) + 0x30 for d in norm.encode("ascii"))
        return (
            b"\x00" + bytes([ekey[0] ^ 0x80]) + ekey[1:] + comp + b"\xff"
        )
    if cls == "TimeUUIDType":
        # timestamp order is the certain part; the EQUAL-timestamp
        # tiebreak here compares the remaining bytes unsigned. CAVEAT
        # (documented, r11 review): historical Cassandra TimeUUIDType
        # carries a legacy signed-byte quirk in its non-timestamp
        # comparison that cannot be verified in this environment; two
        # v1 UUIDs sharing one 100ns timestamp whose first differing
        # clockseq/node byte straddles 0x80 could order differently on
        # a real node. The tiebreak only breaks ties WITHIN one
        # timestamp tick of one partition's clustering -- order across
        # distinct timestamps (the semantic order) is exact.
        return _uuid_timestamp_key(vb) + vb
    if cls == "UUIDType":
        # version first; v1 by reassembled timestamp; ties (and other
        # versions) by unsigned bytes -- msb bytes are version-equal and
        # timestamp-equal at that point, so raw bytes reduce to the lsb
        # comparison (same equal-timestamp caveat as TimeUUIDType above)
        v = (vb[6] >> 4) & 0x0F
        if v == 1:
            return bytes([v]) + _uuid_timestamp_key(vb) + vb
        return bytes([v]) + vb
    raise ValueError(
        f"no comparator model for clustering type {ctype!r} -- refusing "
        "to guess a sort order (a misordered sstable is silent corruption)"
    )


def split_clustering_display(display: str) -> list[str]:
    """Inverse of ``_display_clustering``'s ':'-join for composite
    clusterings -- the SHARED escaping-protocol split (one
    implementation with the composite key path, r11 review). The caller
    must verify the round-trip re-renders identically -- the join
    escapes only ':' (not backslash itself), so a component ending in a
    literal backslash is ambiguous; the verify makes that loud."""
    from cassandra_sstable_tools_spark.sources.sstable_binary import (
        split_unescaped_colons,
    )

    return split_unescaped_colons(display)


def clustering_components(
    display: str | None, types: list[str], full_arity: bool = True
) -> tuple[bytes | None, ...]:
    """Rendered clustering display -> per-component encoded bytes under
    the header's declared types, verified to re-render as the SAME
    display (loud refusal on any mismatch -- same contract as
    ``clustering_value_bytes``). Single-component headers take the
    display whole (the historical unescaped path); multi-component
    headers split on unescaped ':'. ``full_arity=False`` (markers)
    accepts prefix bounds with fewer components than the header; rows
    require the full arity. Empty per-component displays encode as null
    (null and empty render identically, and the format's header bits
    keep either readable). A None display is all-null: full header arity
    for rows, a single null component for bounds (the historical marker
    encoding).

    Memoized (like ``clustering_value_bytes``): the writer touches each
    record's clustering 3x (sort key, stats bounds, cell encode) and
    displays repeat heavily, so the uncached triple-walk cost the encode
    path ~30% wall at 1M records (measured r11)."""
    return _components_cached(display, tuple(types), full_arity)


@__import__("functools").lru_cache(maxsize=65536)
def _components_cached(
    display: str | None, types: tuple[str, ...], full_arity: bool
) -> tuple[bytes | None, ...]:
    if display is None:
        return (None,) * (len(types) if full_arity else min(1, len(types)))
    if len(types) <= 1:
        return (clustering_value_bytes(
            display, types[0] if types else None),)
    parts = split_clustering_display(display)
    if len(parts) > len(types):
        raise ValueError(
            f"clustering display {display!r} has {len(parts)} components "
            f"but the header declares {len(types)}"
        )
    if full_arity and len(parts) != len(types):
        raise ValueError(
            f"row clustering display {display!r} has arity {len(parts)} "
            f"!= header arity {len(types)} (rows carry full clustering)"
        )
    vals = [
        None if p == "" else clustering_value_bytes(p, types[i])
        for i, p in enumerate(parts)
    ]
    # re-render with the FULL header types: the arity-1-under-multi
    # escape rule keys off the header arity, not the value arity
    back = _display_clustering(list(vals), list(types))
    if back != display:
        raise ValueError(
            f"clustering display {display!r} does not survive the "
            f"multi-component encoding round-trip (re-renders as {back!r})"
        )
    return tuple(vals)


def clustering_comparator_tuple(
    display: str | None, types: list[str], full_arity: bool = True
) -> tuple[bytes, ...]:
    """Sortable key for one clustering position: per-component comparator
    keys as a tuple (prefix bounds sort before the rows they cover, the
    INCL_START convention). Serves the encoder's row sort and the
    writer's Statistics.db min/max bound selection. Memoized alongside
    ``clustering_components`` (same 3x-per-record hot path)."""
    return _comparator_tuple_cached(display, tuple(types), full_arity)


@__import__("functools").lru_cache(maxsize=65536)
def _comparator_tuple_cached(
    display: str | None, types: tuple[str, ...], full_arity: bool
) -> tuple[bytes, ...]:
    vals = _components_cached(display, types, full_arity)
    return tuple(
        comparator_key(v, types[i]) for i, v in enumerate(vals)
    )


@__import__("functools").lru_cache(maxsize=65536)
def _clustering_blob_cached(
    display: str | None, types: tuple[str, ...]
) -> bytes:
    """Full-arity row clustering display -> serialized clustering bytes.
    The third member of the per-record memo family (components,
    comparator tuple, now the wire blob): the encoder previously re-ran
    the per-32 header fold + vint writes for every RECORD while displays
    repeat per (partition, clustering) across columns."""
    vals = _components_cached(display, types, True)
    return _enc_clustering_values(list(vals), list(types))


class _EncPrep:
    """Per-header encode tables: column name -> (idx, type, is_complex,
    fixed value length, CellPath component type) for each side, plus the
    bound delta codec. Built once per distinct header CONTENTS (the memo
    key -- mutation-safe where an identity key would go stale, the
    _header_prep lesson) instead of once per partition: the writer calls
    ``encode_unfiltereds`` once per partition, and rebuilding the codec
    plus both index dicts per call was measurable (guide §1.2 per-task
    work)."""

    __slots__ = ("codec", "reg", "sta", "n_reg", "cl_types_t")

    def __init__(self, h: SerializationHeaderInfo):
        self.codec = _Codec(h)
        self.n_reg = len(h.regular_columns)
        # the cached clustering helpers key on a TUPLE of types; doing the
        # list->tuple conversion per record was a measurable slice of the
        # encode loop
        self.cl_types_t = tuple(h.clustering_types)

        def table(columns):
            out = {}
            for i, (name, t) in enumerate(columns):
                cplx = is_complex_type(t)
                out[name] = (
                    i, t, cplx, FIXED_VALUE_LENGTHS.get(t),
                    _path_type_of(t) if cplx else None,
                )
            return out

        self.reg = table(h.regular_columns)
        self.sta = table(h.static_columns)


_ENC_PREPS: dict[tuple, _EncPrep] = {}


def _encode_prep(h: SerializationHeaderInfo) -> _EncPrep:
    key = (
        h.min_timestamp, h.min_local_deletion_time, h.min_ttl,
        tuple(h.clustering_types),
        tuple(map(tuple, h.static_columns)),
        tuple(map(tuple, h.regular_columns)),
    )
    prep = _ENC_PREPS.get(key)
    if prep is None:
        if len(_ENC_PREPS) >= 128:  # writers see few distinct headers
            _ENC_PREPS.clear()
        prep = _ENC_PREPS[key] = _EncPrep(h)
    return prep


def encode_unfiltereds(
    records: list[dict],
    h: SerializationHeaderInfo,
    strict_spans: bool = True,
    prep: _EncPrep | None = None,
) -> bytes:
    """Serialize already-filtered encodable records of ONE partition, in
    stream order (statics first, then by (clustering, writetime)), END
    marker included.

    ``strict_spans`` (the FIXTURE materializer contract) raises when a
    record exceeds its per-kind cost bound or needs a multi-byte
    bodySize/prevSize vint -- the assumptions the SQL span oracle prices
    with. The SINK passes False: real payloads are arbitrary-length, the
    format's vints handle any size, and written trees are never
    span-oracle-priced (the round-trip certificate drops phys_size)."""
    if prep is None:
        prep = _encode_prep(h)

    def sort_key(rec: dict):
        # comparator-aware (r10 ADVICE): rows serialize in the DECLARED
        # comparator's order -- display-string order misorders every
        # signed numeric type ('10' < '2' lexically) and a misordered
        # tree silently breaks Cassandra slice reads. Markers sort at
        # their open bound; prefix bounds sort before covered rows; and
        # at EQUAL clustering the bound sorts before the row it shadows
        # (Cassandra's INCL_START < row rule -- r11 review finding: the
        # writetime tiebreak could serialize a deletion AFTER the row
        # at exactly the position it covers).
        static = rec["kind"] == "STATIC_CELL"
        marker = rec["kind"] == "RANGE_TOMBSTONE_MARKER"
        ckey = rec["range_start"] if marker else rec["clustering"]
        if static or ckey is None:
            ct: tuple[bytes, ...] = ()
        else:
            ct = _comparator_tuple_cached(
                ckey, prep.cl_types_t, not marker
            )
        return (0 if static else 1, ct, 0 if marker else 1,
                rec["writetime"] or 0)

    out = bytearray()
    prev_size = 0
    for rec in sorted(records, key=sort_key):
        blob = _encode_one(
            rec, prep, prev_size,
            strict_spans=strict_spans,
        )
        if strict_spans:
            bound = record_cost_bound(rec["kind"])
            if len(blob) > bound:
                raise ValueError(
                    f"encoded {rec['kind']} record takes {len(blob)} bytes, "
                    f"over its {bound}-byte budget bound -- fixture contract "
                    "violated"
                )
        out += blob
        prev_size = len(blob)
    out.append(END_OF_PARTITION)
    return bytes(out)


def _row_blob(
    flags: int,
    ext: int,
    clustering_blob: bytes,
    body: bytes,
    prev_size: int,
    strict_spans: bool = True,
) -> bytes:
    # the span oracle prices bodySize and prevUnfilteredSize as 1-byte
    # vints; the cost bounds keep both < 128, and this assert keeps the
    # assumption loud rather than silently breaking the size formula.
    # (Non-strict -- the sink -- writes format-correct multi-byte vints.)
    if strict_spans and (len(body) >= 128 or prev_size >= 128):
        raise ValueError(
            f"row body {len(body)} / prev {prev_size} exceeds the 1-byte "
            "vint assumption of the span oracle"
        )
    head = bytearray([flags | (EXTENSION_FLAG if ext else 0)])
    if ext:
        head.append(ext)
    head += clustering_blob
    head += write_unsigned_vint(len(body))
    head += write_unsigned_vint(prev_size)
    return bytes(head + body)


def _encode_one(
    rec, prep: _EncPrep, prev_size: int,
    strict_spans: bool = True,
) -> bytes:
    codec = prep.codec
    kind = rec["kind"]
    if kind == "RANGE_TOMBSTONE_MARKER":
        # open INCL_START + close INCL_END pair, deletion on both sides
        deletion = codec.enc_ts(rec["writetime"]) + codec.enc_ldt(
            rec["local_deletion_time"]
        )
        pair = bytearray()
        psz = prev_size
        for kind_ord, val in (
            (KIND_INCL_START_BOUND, rec["range_start"]),
            (KIND_INCL_END_BOUND, rec["range_end"]),
        ):
            # bounds may be PREFIXES of the clustering (fewer components)
            vals = clustering_components(
                val, prep.cl_types_t, full_arity=False
            )
            head = bytearray([IS_MARKER, kind_ord])
            head += struct.pack(">H", len(vals))
            head += _enc_clustering_values(
                vals, prep.cl_types_t[: len(vals)]
            )
            if strict_spans and (len(deletion) >= 128 or psz >= 128):
                raise ValueError(
                    f"marker body {len(deletion)} / prev {psz} exceeds the "
                    "1-byte vint assumption of the span oracle"
                )
            head += write_unsigned_vint(len(deletion))
            head += write_unsigned_vint(psz)
            blob = bytes(head + deletion)
            psz = len(blob)
            pair += blob
        return bytes(pair)

    static = kind == "STATIC_CELL"
    clustering_blob = b""
    ext = IS_STATIC if static else 0
    if not static:
        clustering_blob = _clustering_blob_cached(
            rec["clustering"], prep.cl_types_t
        )
    if kind == "ROW_DELETE":
        body = codec.enc_ts(rec["writetime"]) + codec.enc_ldt(
            rec["local_deletion_time"]
        ) + _enc_subset_cached((), prep.n_reg)
        return _row_blob(HAS_DELETION, ext, clustering_blob, body, prev_size,
                         strict_spans=strict_spans)
    if kind == "ROW_MARKER":
        body = codec.enc_ts(rec["writetime"]) + _enc_subset_cached(
            (), prep.n_reg
        )
        return _row_blob(HAS_TIMESTAMP, ext, clustering_blob, body, prev_size,
                         strict_spans=strict_spans)
    if kind == "COMPLEX_DELETE":
        # a row whose only content is one complex column's deletion: the
        # row-level flag announces it, the column block carries the
        # DeletionTime and a zero cell count (differential/test path; the
        # certified fixture plants complex CELLS, not deletions)
        name = rec["cell_name"]
        info = prep.reg.get(name)
        if info is None:
            raise ValueError(f"column {name!r} missing from the header schema")
        body = (
            _enc_subset_cached((info[0],), prep.n_reg)
            + codec.enc_ts(rec["writetime"])
            + codec.enc_ldt(rec["local_deletion_time"])
            + write_unsigned_vint(0)
        )
        return _row_blob(
            HAS_COMPLEX_DELETION, ext, clustering_blob, body, prev_size,
            strict_spans=strict_spans,
        )

    # CELL / STATIC_CELL: one-cell row, cell-level timestamp. Counter
    # naming is SYMMETRIC across static and regular cells (*_ctr suffix =
    # CounterColumnType) -- statics previously skipped the suffix, so a
    # static counter silently renamed across a round-trip (r09 advice).
    tomb = bool(rec["is_tombstone"])
    expiring = rec["ttl"] is not None
    counter = bool(rec["is_counter"])
    path = rec.get("cell_path") if not static and not counter else None
    name = rec["cell_name"] + ("_ctr" if counter else "")
    idx_map = prep.sta if static else prep.reg
    info = idx_map.get(name)
    if info is None:
        raise ValueError(f"column {name!r} missing from the header schema")
    # per-column tables precomputed once per header (_EncPrep): index,
    # marshal type, complex flag, fixed value length, CellPath type
    idx, ctype, cplx, fixed, ptype = info
    cflags = 0
    cell = bytearray()
    if tomb:
        cflags |= CELL_IS_DELETED
    if expiring:
        cflags |= CELL_IS_EXPIRING
    value: bytes | None = None
    if not tomb:
        vb = rec.get("value_bytes")
        if vb is not None:
            # the LOSSLESS path: raw payload bytes from a with_values
            # decode (or a caller-built binary column) round-trip exactly
            value = bytes(vb)
        elif rec["cell_size"] is not None:
            value = struct.pack(">q", rec["cell_size"])
    if value is None:
        cflags |= CELL_HAS_EMPTY_VALUE
    cell.append(cflags)
    cell += codec.enc_ts(rec["writetime"])
    if tomb or expiring:
        cell += codec.enc_ldt(rec["local_deletion_time"])
    if expiring:
        cell += codec.enc_ttl(rec["ttl"])
    if path is not None:
        if not cplx:
            raise ValueError(
                f"record carries a cell_path but column {name!r} has "
                f"simple type {ctype}"
            )
        # the display was rendered through the column's PATH type (a
        # map's key type, a set's element type, ...), so it must be
        # INVERTED through the same type -- a UTF-8 re-encode of e.g. an
        # Int32 path display would write 2 bytes under a header that
        # declares 4 and silently corrupt the rewrite (review finding);
        # clustering_value_bytes refuses loudly for non-invertible types
        pb = clustering_value_bytes(path, ptype)
        cell += write_unsigned_vint(len(pb)) + pb
    elif cplx:
        raise ValueError(
            f"complex column {name!r} needs a cell_path on every cell"
        )
    if value is not None:
        if fixed is not None:
            if len(value) != fixed:
                raise ValueError(f"fixed type {ctype} needs {fixed} bytes")
            cell += value
        else:
            cell += write_unsigned_vint(len(value)) + value
    body = _enc_subset_cached(
        (idx,), len(prep.sta) if static else prep.n_reg
    )
    if path is not None:
        # complex column block: no complex deletion (row flag unset),
        # one-cell count, then the CellPath-addressed cell
        body += write_unsigned_vint(1)
    body += bytes(cell)
    return _row_blob(0, ext, clustering_blob, body, prev_size,
                     strict_spans=strict_spans)


# --------------------------------------------------------------------------
# Fixture derivation (materialize_index_files v7 side)
# --------------------------------------------------------------------------


def fixture_header_schema() -> tuple[list[str], list, list]:
    """The fixture table schema shared by every planted sstable: UTF8 key,
    one UTF8 clustering column, LongType static columns named like the
    fixture's cell names, and regular columns = LongType per cell name
    plus a CounterColumnType twin ``<name>_ctr`` (counter-ness is a
    COLUMN-TYPE property in the real format, so per-record is_counter maps
    to column choice), and (v12) one non-frozen map column ``m0`` of
    MapType(UTF8,Long) -- the complex-column codec path, populated by the
    fixture_complex_path transform. Sorted by name, the order Cassandra's
    Columns keeps and the subset bitmaps index."""
    clustering_types = [
        "org.apache.cassandra.db.marshal.UTF8Type",
    ]
    statics = sorted((f"c{i}", LONG_TYPE) for i in range(5))
    regulars = sorted(
        [(f"c{i}", LONG_TYPE) for i in range(5)]
        + [(f"c{i}_ctr", COUNTER_TYPE) for i in range(5)]
        + [(FIXTURE_COMPLEX_COLUMN, MAP_UTF8_LONG_TYPE)]
    )
    return clustering_types, statics, regulars


_FIXTURE_CELL_FIELDS = [
    "partition_key", "clustering", "kind", "cell_name", "cell_size",
    "writetime", "ttl", "is_tombstone", "is_counter",
    "local_deletion_time", "range_start", "range_end",
]


def fixture_cell_payload(spark: SparkSession, sf_dir: str) -> dict:
    """(ks, tb, ss) -> (SerializationHeaderInfo, {pk: [encodable record
    dicts]}) -- the planted Data.db cell content. EncodingStats mins are
    computed over the records' serialized values (timestamps incl. marker
    markedForDeleteAt, deletion times, TTLs) so every delta is
    non-negative. Driver-side collect at the cells grain: fixture/test
    scaffolding only (a real deployment already has the files)."""
    from cassandra_sstable_tools_spark.sources import tpch_adapter
    from cassandra_sstable_tools_spark.sources.statistics_db import (
        ENC_DELETION_TIME_EPOCH,
        ENC_TIMESTAMP_EPOCH,
        UTF8_TYPE,
    )

    clustering_types, statics, regulars = fixture_header_schema()
    by_sst: dict[tuple, dict] = {}
    mins: dict[tuple, list] = {}
    cells = tpch_adapter.cells(spark, sf_dir)
    for r in cells.select(
        "keyspace", "table_name", "sstable_id", *_FIXTURE_CELL_FIELDS
    ).collect():
        rec = {f: r[f] for f in _FIXTURE_CELL_FIELDS}
        if not record_encodable(rec):
            continue
        # v12 simple->complex transform: route the matching cells into the
        # non-frozen map column (path derived deterministically so the
        # DuckDB oracle replays column, path and byte span in SQL)
        rec["cell_path"] = fixture_complex_path(rec)
        if rec["cell_path"] is not None:
            rec["cell_name"] = FIXTURE_COMPLEX_COLUMN
        key = (r["keyspace"], r["table_name"], r["sstable_id"])
        by_sst.setdefault(key, {}).setdefault(
            rec["partition_key"], []
        ).append(rec)
        m = mins.setdefault(key, [None, None, None])  # ts, ldt, ttl
        wt = int(rec["writetime"])
        m[0] = wt if m[0] is None else min(m[0], wt)
        ldt = rec["local_deletion_time"]
        serializes_ldt = rec["kind"] in (
            "ROW_DELETE", "RANGE_TOMBSTONE_MARKER"
        ) or (
            rec["kind"] in ("CELL", "STATIC_CELL")
            and (bool(rec["is_tombstone"]) or rec["ttl"] is not None)
        )
        if serializes_ldt and ldt is not None:
            m[1] = int(ldt) if m[1] is None else min(m[1], int(ldt))
        if rec["ttl"] is not None:
            m[2] = int(rec["ttl"]) if m[2] is None else min(m[2], int(rec["ttl"]))
    out: dict[tuple, tuple] = {}
    for key, parts in by_sst.items():
        m = mins[key]
        h = SerializationHeaderInfo(
            min_timestamp=m[0] if m[0] is not None else ENC_TIMESTAMP_EPOCH,
            min_local_deletion_time=(
                m[1] if m[1] is not None else ENC_DELETION_TIME_EPOCH
            ),
            min_ttl=m[2] if m[2] is not None else 0,
            key_type=UTF8_TYPE,
            clustering_types=clustering_types,
            static_columns=statics,
            regular_columns=regulars,
        )
        out[key] = (h, parts)
    return out


def partition_budget_ok(psize: int, records: list[dict]) -> bool:
    """The partition's byte budget covers worst-case encodings (the oracle
    mirrors this in SQL): header + END marker + per-record cost bounds."""
    return psize >= BLOCK_OVERHEAD + sum(
        record_cost_bound(r["kind"]) for r in records
    )


# --------------------------------------------------------------------------
# Distributed scan
# --------------------------------------------------------------------------


def _scan_plan(sst, shard: int, n_shards: int):
    """The shared setup of a per-task sstable scan: component checks,
    Statistics.db header parse, Index.db position pass (summary-seek
    sliced when sharded). ``sst`` is an ``inventory.SSTable`` or the path
    of an Index.db. Returns None when the sstable lacks Data.db /
    Statistics.db (the skip rule) or the shard is empty, else
    ``(sst, ks, tb, ss, ver, header, positions, lo, hi, npos, tail,
    cmarshal)``; the tuple and columnar paths share this one setup (same
    side-effect order, same errors). The positions come from
    ``index_spans``: a decreasing one, the entry that closes a shard
    included, is a corrupt index (loud)."""
    from cassandra_sstable_tools_spark.sources.inventory import SSTable
    from cassandra_sstable_tools_spark.sources.statistics_db import (
        parse_serialization_header,
    )

    if isinstance(sst, str):
        sst = SSTable.at(sst)
    path = sst.path("Index.db")
    ks, tb, ss = sst.identity
    ver = sst.version
    if not {"Data.db", "Statistics.db"} <= sst.components:
        return None
    with sst.open("Statistics.db") as f:
        header = parse_serialization_header(
            f.read(), version=ver, source=sst.path("Statistics.db")
        )
    # positions are computed BEFORE the Data.db handle opens: a corrupt
    # Summary/Index parse raises here, and an open handle must not leak
    # across that raise (review finding)
    start, stop = 0, None
    sliced = n_shards > 1 and "Summary.db" in sst.components
    if sliced:
        # summary-seek slice (r08 s2): shard boundaries are SAMPLED
        # summary entries, whose stored positions are Index.db offsets --
        # each shard streams only ITS index byte range instead of
        # re-streaming the whole index (on a multi-GB index of a 100 GB
        # sstable that re-read was shards x index). The first entry at
        # ``stop`` closes the slice: its position ends the last span.
        from cassandra_sstable_tools_spark.sources.summary_db import (
            parse_summary_db,
        )

        with sst.open("Summary.db") as sf_:
            summ = parse_summary_db(
                sf_.read(), source=sst.path("Summary.db")
            )
        ns = len(summ.entries)
        lo_e = int(shard) * ns // n_shards
        hi_e = (int(shard) + 1) * ns // n_shards
        if lo_e == hi_e:
            return None  # fewer sampled entries than shards
        start = summ.entries[lo_e][1]
        stop = summ.entries[hi_e][1] if hi_e < ns else None
    positions: list[int] = []
    tail = None  # the end of the last span; None -> the data length
    with sst.open("Index.db") as idx:
        cur = IndexCursor(
            idx, ver, path, start, chunk_bytes=8 << 20, region_end=stop
        )
        where = None if stop is None else (lambda _key, off: int(off >= stop))
        for _key, pos, tail in index_spans(cur, where):
            positions.append(pos)
    npos = len(positions)
    # without a summary, a shard is a slice of the whole index's positions
    lo, hi = (0, npos) if sliced else (
        int(shard) * npos // n_shards, (int(shard) + 1) * npos // n_shards
    )
    h_clustering = list(header.clustering_types)
    # clustering_marshal: the sstable's OWN clustering types
    # (comma-joined), constant per sstable -- lets a rewrite re-declare
    # typed clustering automatically
    cmarshal = ",".join(h_clustering) or None
    return (
        sst, ks, tb, ss, ver, header, positions, lo, hi, npos, tail,
        cmarshal,
    )


def _iter_block_spans(dat, positions, lo, hi, npos, tail_end):
    """Yield ``(span_bytes, blocks)`` with ``blocks`` a list of
    ``(file_pos, rel_off, rel_end)`` -- the span-batching read loop
    shared by the tuple and columnar scan paths (guide S1.2: partitions
    are decoded in file order, so consecutive partitions are fetched in
    ~8 MiB spans and sliced in memory -- identical bytes, ~1000x fewer
    reader calls than one seek+read per partition)."""
    span_bytes = 8 << 20
    i = lo
    while i < hi:
        k = i + 1
        while k < hi:
            nxt = positions[k + 1] if k + 1 < npos else tail_end
            if nxt - positions[i] > span_bytes:
                break
            k += 1
        grp_lo = positions[i]
        grp_end = positions[k] if k < npos else tail_end
        if grp_end <= grp_lo:
            i = k
            continue
        dat.seek(grp_lo)
        span = dat.read(grp_end - grp_lo)
        blocks = []
        for m in range(i, k):
            pos = positions[m]
            end = positions[m + 1] if m + 1 < npos else tail_end
            if end <= pos:
                continue  # zero-extent: offset shared with successor
            blocks.append((pos, pos - grp_lo, end - grp_lo))
        if blocks:
            yield span, blocks
        i = k


def scan_sstable_cell_rows(
    index_path: str,
    shard: int = 0,
    n_shards: int = 1,
    with_values: bool = False,
) -> list[tuple]:
    """Decode ONE sstable's (shard of) cell records into tuples in
    ``_COLS`` order (``_COLS_VALUES`` under ``with_values=True``, which
    appends the raw payload bytes + marshal type for lossless rewrites)
    -- the per-task body shared by the point/span read paths and, as the
    no-C fallback, the ``data_cells`` scan and the Python DataSource read
    path (``sources/pyds.py``; their fast path is
    ``scan_sstable_cell_batches``). ``index_path`` may be a ``file:`` URI,
    a POSIX path or an ``inventory.SSTable``. Returns [] when the sstable
    lacks the components cell decoding needs (Data.db / Statistics.db --
    the skip rule); raises, naming file and byte offset, on corruption.

    Sharding (``n_shards > 1``): contiguous position ranges. With a
    Summary.db present the shard SEEKS to its sampled index slice and
    streams only its own index bytes (zero duplicated I/O across shards);
    without one it falls back to a full index stream sliced by position
    count. Either way the positions come from ``index_spans`` in index
    order, never re-sorted: a position that decreases, inside a shard or
    at the entry that closes one, fails the scan at every shard count.
    Shard-invariance of the union is pinned by test."""
    from cassandra_sstable_tools_spark.sources.lz4_block import (
        open_sstable_data,
    )

    plan = _scan_plan(index_path, shard, n_shards)
    if plan is None:
        return []
    (sst, ks, tb, ss, ver, header, positions, lo, hi, npos, tail,
     cmarshal) = plan
    data_path = sst.path("Data.db")
    rows: list[tuple] = []
    dat, data_len = open_sstable_data(sst)
    tail_end = data_len if tail is None else tail
    try:
        for span, blocks in _iter_block_spans(
            dat, positions, lo, hi, npos, tail_end
        ):
            for pos, rel_off, rel_end in blocks:
                block = span[rel_off:rel_end]
                pk, recs = decode_partition_block(
                    block, header, source=data_path, base=pos,
                    keep_values=with_values,
                )
                ident = (ks, tb, ss, pk)
                # attrgetter pulls all record fields in one C call (the
                # 19-attribute bytecode loop measured ~8% of the scan)
                if with_values:
                    rows.extend(
                        ident + _REC_GET_VALUES(rec) + (cmarshal,)
                        for rec in recs
                    )
                else:
                    rows.extend(ident + _REC_GET(rec) for rec in recs)
    finally:
        dat.close()
    return rows


def scan_sstable_cell_batches(
    index_path: str,
    shard: int = 0,
    n_shards: int = 1,
    with_values: bool = False,
) -> Iterator:
    """``scan_sstable_cell_rows`` as pyarrow RecordBatches through the C
    structure-walk kernel (sources/cellwalk.py; guide §4.2 native code):
    the walk emits columnar arrays, display strings render through the
    same cached Python renderers, and Arrow columns are built directly --
    no per-record Python objects. Byte-identical output and identical
    error messages are pinned by tests/test_cellwalk.py; falls back to
    the interpreted path (same rows through ``_cell_batches``) when the
    kernel is unavailable (no gcc / SPARK_GRAFT_NO_CELLWALK=1) or
    declines a block it cannot represent faithfully."""
    from cassandra_sstable_tools_spark.sources import cellwalk
    from cassandra_sstable_tools_spark.sources.lz4_block import (
        open_sstable_data,
    )

    if not cellwalk.available():
        yield from _cell_batches(
            scan_sstable_cell_rows(
                index_path, shard, n_shards, with_values=with_values
            ),
            _pa_cells_schema(with_values),
        )
        return
    plan = _scan_plan(index_path, shard, n_shards)
    if plan is None:
        return
    (sst, ks, tb, ss, ver, header, positions, lo, hi, npos, tail,
     cmarshal) = plan
    dat, data_len = open_sstable_data(sst)
    tail_end = data_len if tail is None else tail
    try:
        try:
            bundle = cellwalk.walk_spans(
                header,
                _iter_block_spans(dat, positions, lo, hi, npos, tail_end),
                sst.path("Data.db"),
                with_values,
            )
        except cellwalk._NeedPython:
            # rare decline (allocator failure / ttl overflow): the
            # interpreted kernel is the arbiter, re-scan through it
            yield from _cell_batches(
                scan_sstable_cell_rows(
                    sst, shard, n_shards, with_values=with_values
                ),
                _pa_cells_schema(with_values),
            )
            return
    finally:
        dat.close()
    yield from cellwalk.assemble_batches(
        bundle, header, ks, tb, ss, cmarshal, with_values
    )


def auto_split_bytes(total_bytes: int, cores: int) -> int:
    """Byte target for one decode shard of ``data_cells`` when the caller
    does not pin ``shards_per_sstable``, and for one merge unit of
    ``merge_scan.merge_units``: the FileScan-style rule of the V2
    reader's ``target_split_bytes``, made CORE-FILLING. It aims for ONE
    wave of tasks across ``cores`` (the session's
    ``defaultParallelism``), so a 12-sstable directory on 32 cores stops
    being gated by the one biggest file's single task. Not two waves:
    per-shard fixed costs (Statistics/Summary parse, and the V2
    row-marshal stream setup) measured 2-wave splitting NET-SLOWER on the
    V2 scan (4.7s at total/64 vs 2.7s at total/32 vs 4.4s at the fixed
    256 MiB, sf0.1 trio bench). The per-wave share rounds up, so
    ``ceil(total_bytes / target)`` never exceeds ``cores``. Never finer
    than 16 MiB (per-shard summary/header overhead) nor coarser than
    256 MiB (the V2 default; at 100 TB the cap rules and the task count
    grows with bytes, not cores). ``SPARK_GRAFT_DECODE_SPLIT_BYTES``
    overrides outright (deployment knob)."""
    env = os.environ.get("SPARK_GRAFT_DECODE_SPLIT_BYTES")
    if env:
        return max(1 << 20, int(env))
    cores = max(1, cores)
    per_wave = -(-total_bytes // cores)
    return max(16 << 20, min(256 << 20, per_wave or (256 << 20)))


def data_cells(
    spark: SparkSession,
    root: str,
    filenames=None,
    shards_per_sstable: int | None = None,
    with_values: bool = False,
) -> DataFrame:
    """Cell-grain records from REAL Data.db files under a Cassandra data
    directory. By default each sstable splits into byte-bounded
    summary-seek shards (``auto_split_bytes``); per shard: Statistics.db
    HEADER parse, streaming Index.db position pass (positions only -- 8
    bytes per partition in task memory), then per-partition block decodes.
    Compressed sstables read through the CompressionInfo chunk map + the
    pure-Python LZ4 block decoder (sources/lz4_block.py).

    ``shards_per_sstable > 1`` splits each sstable's decode into that many
    tasks over CONTIGUOUS position ranges -- the index-driven advantage
    over the reference's sequential scanner: a few huge sstables stop
    gating a cluster job on a handful of long tasks. With a Summary.db
    present (every healthy sstable), shard boundaries are SAMPLED summary
    entries and each shard SEEKS to and streams only its own index byte
    slice -- zero duplicated I/O (r08 s2; previously every shard
    re-streamed the whole index, shards x index bytes on a multi-GB index
    of a 100 GB sstable). Without a summary the full-stream slice remains
    as the fallback. Output is shard-invariant either way (pinned by
    test, incl. the stripped-summary fallback).

    Scope (all documented, all loud or oracle-mirrored):
    - sstables without a Statistics.db are skipped (no schema, no codec);
    - sstables without a Data.db are skipped;
    - corruption inside a block raises, naming file and byte offset."""
    from cassandra_sstable_tools_spark.sources.inventory import (
        live_sstables,
        run_units,
    )

    if shards_per_sstable is not None and shards_per_sstable < 1:
        raise ValueError("shards_per_sstable must be >= 1")
    ssts = live_sstables(
        "data_cells", root, filenames,
        ("Index.db", "Data.db", "Statistics.db"),
    )
    if shards_per_sstable is None:
        # Adaptive default (optimization guide S2: scale-adaptive
        # partitioning, stragglers): shard count per sstable =
        # ceil(Data.db bytes / auto target), from the inventory's own
        # file lengths. Shard invariance of the union is pinned by test,
        # so results are bit-identical to one task per sstable.
        target = auto_split_bytes(
            sum(s.length("Data.db") for s in ssts),
            spark.sparkContext.defaultParallelism,
        )
        counts = [
            max(1, min(256, -(-s.length("Data.db") // target))) for s in ssts
        ]
    else:
        counts = [shards_per_sstable] * len(ssts)
    # one task per (sstable, shard): a few huge sstables never gate the
    # stage on one long task
    units = [
        [(s, shard, ns)] for s, ns in zip(ssts, counts) for shard in range(ns)
    ]
    return run_units(
        spark, units,
        lambda unit: scan_sstable_cell_batches(*unit, with_values=with_values),
        DATA_CELLS_VALUES_SCHEMA if with_values else DATA_CELLS_SCHEMA,
    )


def decodable_sstables(spark: SparkSession, root: str, filenames=None) -> DataFrame:
    """(keyspace, table_name, sstable_id) of cell-DECODABLE sstables: a
    Data.db and a Statistics.db present (compressed sstables decode
    through the LZ4 chunk layer since v8). One driver-side inventory
    filter, 1 row per sstable; joins always broadcast-able."""
    from cassandra_sstable_tools_spark.sources.inventory import (
        live_sstables,
        local_frame,
    )

    return local_frame(
        spark,
        [
            s.identity for s in live_sstables(
                "decodable_sstables", root, filenames,
                ("Data.db", "Statistics.db"),
            )
        ],
        "keyspace string, table_name string, sstable_id string",
    )


# --------------------------------------------------------------------------
# Registered queries: the cell-decode path certified against the parquet
# oracle (physical-representability rules replayed in SQL)
# --------------------------------------------------------------------------


def data_cells_cassdir(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THE cell-grain certificate: every record decoded from real Data.db
    partition bodies (planted by materialize_index_files v7), hash-compared
    against the parquet cells frame filtered by the documented
    physical-representability rules. A hash match certifies the whole codec
    chain at once: SerializationHeader parse, EncodingStats deltas, row and
    cell flags, clustering values, column-subset bitmaps, fixed/variable
    value encodings, marker pairing and partition-deletion headers.
    Reference parity: cassandra/DataReader.java:46-123 (cell stream),
    re-expressed index-driven (see module docstring)."""
    from cassandra_sstable_tools_spark.sources.sstable_binary import (
        materialize_index_files,
    )

    root = materialize_index_files(spark, sf_dir)
    return data_cells(spark, root)


def report_cells(spark: SparkSession, root: str, filenames=None) -> DataFrame:
    """The decoded frame as the report layer's cell input
    (queries/cfstats.py, operators/purge.py): ``cell_size`` is a record's
    REAL serialized byte span (``phys_size``) -- the reference's own size
    semantics (scanner deltas, PurgeStatisticBackend.java:70-139) at
    record grain. Header-resident partition deletes carry NULL size (no
    stream bytes)."""
    return data_cells(spark, root, filenames).withColumnRenamed(
        "phys_size", "cell_size"
    )


def dir_partition_sizes(
    spark: SparkSession, root: str, filenames=None, key_type=None
) -> DataFrame:
    """(ks, tb, ss, pk, size) from Index.db position deltas -- the
    reference's own partition-size semantics (DataReader.java:118-121:
    scanner position delta) -- restricted to the cell-decodable sstable
    universe so sizes and record counts cover the same files. The fused
    parse (``binary_index_sizes``) resolves deltas + tail length + the
    decodable-universe check (Data.db + Statistics.db present) inside the
    per-file task, so the plan carries no window exchange, length join or
    component-listing semi join."""
    from cassandra_sstable_tools_spark.sources.sstable_binary import (
        binary_index_sizes,
    )

    return binary_index_sizes(
        spark, root, filenames, key_type=key_type,
        require_components=("Statistics.db",),
    )


def cfstats_shared_dir_frames(
    spark: SparkSession, root: str, filenames=None
) -> tuple[DataFrame, DataFrame]:
    """ONE decode pass + ONE index-sizes pass for a whole ``cfstats
    --cassandra-dir`` invocation: (``report_cells``, per-partition sizes),
    both eagerly localCheckpoint-ed so every report section feeds off the
    same materialized scan instead of re-decoding the data files per
    section (the reference computes all sections in one scanner pass,
    cli/ColumnFamilyStatisticsCollector.java:121-141; at 100 TB a
    per-section re-decode is a 4-5x read amplification on the most
    expensive scan the engine has). The checkpoint blocks free with the
    plan via the ContextCleaner. Registered per-query paths don't need
    this -- each is single-decode already."""
    decoded = report_cells(spark, root, filenames).localCheckpoint(eager=True)
    sizes = dir_partition_sizes(spark, root, filenames).localCheckpoint(
        eager=True
    )
    return decoded, sizes


def cfstats_global_cassdir(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``cfstats`` totals from a Cassandra data DIRECTORY and nothing else
    (queries/cfstats.py ``directory_totals``) over the planted fixture
    tree: partition sizes from Index.db position deltas, row/cell/tombstone
    counters from the decoded cell stream. Universe = cell-decodable
    sstables (Data.db + Statistics.db present; compressed sstables
    included via the LZ4 chunk layer since v8)."""
    from cassandra_sstable_tools_spark.queries import cfstats
    from cassandra_sstable_tools_spark.sources.sstable_binary import (
        materialize_index_files,
    )

    root = materialize_index_files(spark, sf_dir)
    return cfstats.directory_totals(
        cfstats.fold_partitions(_pk_partitioned(report_cells(spark, root))),
        dir_partition_sizes(spark, root),
    )


def cfstats_sstables_cassdir(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``cfstats`` per-sstable section, directory-only (queries/cfstats.py
    ``directory_sstables``) over the planted fixture tree: liveness %,
    cell class counters and timestamps from the decoded stream, partitions
    and size from index deltas, no ``max_cell_size``."""
    from cassandra_sstable_tools_spark.queries import cfstats
    from cassandra_sstable_tools_spark.sources.sstable_binary import (
        materialize_index_files,
    )

    root = materialize_index_files(spark, sf_dir)
    return cfstats.directory_sstables(
        report_cells(spark, root), dir_partition_sizes(spark, root)
    )


# --------------------------------------------------------------------------
# Oracles: the parquet cells frame filtered/shaped by the documented
# physical-representability rules (the SQL replay of the fixture encoder)
# --------------------------------------------------------------------------


def _vlen_sql(expr: str) -> str:
    """Byte length of an unsigned vint of ``expr`` (non-negative) -- the
    SQL half of write_unsigned_vint's sizing, thresholds 2^(7k)."""
    cases = " ".join(
        f"WHEN ({expr}) < {1 << (7 * k)} THEN {k}" for k in range(1, 9)
    )
    return f"(CASE {cases} ELSE 9 END)"


def _clustering_bytes_sql(expr: str) -> str:
    """Serialized bytes of a 1-column clustering/bound value list: the
    per-32 header vint (always 1 byte here) + vint-length-prefixed UTF-8
    value when non-null."""
    # strlen = BYTE length of a VARCHAR in DuckDB (length() counts chars)
    return (
        f"(1 + CASE WHEN {expr} IS NULL THEN 0 ELSE "
        f"{_vlen_sql(f'strlen({expr})')} + strlen({expr}) END)"
    )


def _complex_sql() -> tuple[str, str]:
    """(predicate, path expression) of the v12 simple->complex fixture
    transform over ``enc_rec e`` -- the SQL twin of fixture_complex_path."""
    pred = (
        "(e.kind = 'CELL' AND NOT coalesce(e.is_counter, FALSE) "
        f"AND e.cell_name = '{FIXTURE_COMPLEX_SOURCE}')"
    )
    path = "('k' || CAST(abs(e.writetime) % 10 AS VARCHAR))"
    return pred, path


def _span_sql() -> str:
    """phys_size of an encodable record -- the SQL replay of the encoder's
    byte layout (every term justified in the module docstring's format
    description; bodySize/prevSize are priced as 1-byte vints, an
    assumption the ENCODER asserts). References columns of ``enc_rec e``
    and the ``enc_mins m`` per-sstable EncodingStats minima."""
    ts = _vlen_sql("e.writetime - m.min_wt")
    ldt = _vlen_sql("e.local_deletion_time - m.min_ldt")
    ttl = _vlen_sql("e.ttl - m.min_ttl")
    cb = _clustering_bytes_sql("e.clustering")
    cpx, cpx_path = _complex_sql()
    # complex map cell extras: CellPath (vint length + bytes) inside the
    # cell, one-cell count vint in the column block; the value is
    # vint-length-prefixed (collection types are variable-length), so it
    # prices 9 like a counter blob instead of the raw fixed 8
    path_bytes = (
        f"({_vlen_sql(f'strlen({cpx_path})')} + strlen({cpx_path}))"
    )
    marker = (
        # flags + kind + u16 count + bound + bodySize/prev vints + deletion
        f"(1 + 1 + 2 + {{bound}} + 2 + {ts} + {ldt})"
    )
    cell_common = (
        f"1 + {ts} "
        f"+ CASE WHEN coalesce(e.is_tombstone, FALSE) OR e.ttl IS NOT NULL "
        f"       THEN {ldt} ELSE 0 END "
        f"+ CASE WHEN e.ttl IS NOT NULL THEN {ttl} ELSE 0 END "
        f"+ CASE WHEN {cpx} THEN {path_bytes} ELSE 0 END "
        f"+ CASE WHEN coalesce(e.is_tombstone, FALSE) THEN 0 "
        f"       WHEN e.cell_size IS NULL THEN 0 "
        f"       WHEN {cpx} THEN 9 "
        f"       WHEN e.kind = 'CELL' AND coalesce(e.is_counter, FALSE) "
        f"       THEN 9 ELSE 8 END"
    )
    return f"""CASE e.kind
        WHEN 'ROW_MARKER' THEN 1 + {cb} + 2 + {ts} + 2
        WHEN 'ROW_DELETE' THEN 1 + {cb} + 2 + {ts} + {ldt} + 2
        WHEN 'CELL' THEN 1 + {cb} + 2 + {cell_common} + 2
            + CASE WHEN {cpx} THEN 1 ELSE 0 END
        WHEN 'STATIC_CELL' THEN 1 + 1 + 2 + {cell_common} + 1
        WHEN 'RANGE_TOMBSTONE_MARKER' THEN
            {marker.format(bound=_clustering_bytes_sql('e.range_start'))}
            + {marker.format(bound=_clustering_bytes_sql('e.range_end'))}
    END"""


def _phys_ctes() -> str:
    """Shared CTE block: decodable sstables, record encodability + cost,
    budget-passing partitions, per-sstable EncodingStats minima, the
    stream-record projection (incl. the serialized-span formula), and the
    header partition-delete rows -- ONE SQL definition of the physical
    rules, shared by every cassdir cell oracle. Compressed sstables
    are IN SCOPE (v8): the reader reaches them through the chunk map +
    LZ4 decode, so no parity exclusion remains."""
    cpx, cpx_path = _complex_sql()
    return f"""
phys_sst AS (
    SELECT keyspace, table_name, sstable_id
    FROM sstables_meta
    WHERE uncompressed_length IS NOT NULL   -- Data.db present
      AND min_timestamp IS NOT NULL          -- Statistics.db present
),
enc_rec AS (
    SELECT c.*,
           CASE WHEN c.kind = 'PARTITION_DELETE' THEN FALSE
                WHEN c.writetime IS NULL THEN FALSE
                WHEN c.kind IN ('ROW_DELETE', 'RANGE_TOMBSTONE_MARKER')
                     THEN c.local_deletion_time IS NOT NULL
                WHEN c.kind IN ('CELL', 'STATIC_CELL') THEN
                     c.cell_name IS NOT NULL
                     AND NOT ((coalesce(c.is_tombstone, FALSE)
                               OR c.ttl IS NOT NULL)
                              AND c.local_deletion_time IS NULL)
                ELSE TRUE END AS encodable,
           CASE c.kind WHEN 'RANGE_TOMBSTONE_MARKER' THEN {COST_RTM}
                       WHEN 'PARTITION_DELETE' THEN 0
                       ELSE {COST_ROW} END AS cost
    FROM cells c
    JOIN phys_sst USING (keyspace, table_name, sstable_id)
),
enc_part AS (
    SELECT e.keyspace, e.table_name, e.sstable_id, e.partition_key
    FROM enc_rec e
    JOIN per_part p USING (keyspace, table_name, sstable_id, partition_key)
    WHERE p.psize IS NOT NULL
    GROUP BY 1, 2, 3, 4
    HAVING min(p.psize) >= {BLOCK_OVERHEAD}
           + sum(CASE WHEN e.encodable THEN e.cost ELSE 0 END)
),
enc_mins AS (
    -- per-sstable EncodingStats minima over the encodable records
    -- (fixture_cell_payload's mins, replayed)
    SELECT keyspace, table_name, sstable_id,
           min(writetime) AS min_wt,
           min(CASE WHEN kind IN ('ROW_DELETE', 'RANGE_TOMBSTONE_MARKER')
                      OR (kind IN ('CELL', 'STATIC_CELL')
                          AND (coalesce(is_tombstone, FALSE)
                               OR ttl IS NOT NULL))
                    THEN local_deletion_time END) AS min_ldt,
           min(ttl) AS min_ttl
    FROM enc_rec WHERE encodable
    GROUP BY 1, 2, 3
),
stream_recs AS (
    SELECT e.keyspace, e.table_name, e.sstable_id, e.partition_key,
           e.kind,
           CASE WHEN e.kind IN ('STATIC_CELL', 'RANGE_TOMBSTONE_MARKER')
                THEN NULL ELSE e.clustering END AS clustering,
           CASE WHEN {cpx} THEN '{FIXTURE_COMPLEX_COLUMN}'
                WHEN e.kind IN ('CELL', 'STATIC_CELL')
                THEN e.cell_name ||
                     CASE WHEN e.kind = 'CELL' AND coalesce(e.is_counter, FALSE)
                          THEN '_ctr' ELSE '' END
           END AS column_name,
           CASE WHEN {cpx} THEN {cpx_path} END AS cell_path,
           CAST(e.writetime AS BIGINT) AS writetime,
           CASE WHEN e.kind IN ('CELL', 'STATIC_CELL') THEN e.ttl END AS ttl,
           CASE WHEN e.kind IN ('ROW_DELETE', 'RANGE_TOMBSTONE_MARKER')
                     THEN CAST(e.local_deletion_time AS BIGINT)
                WHEN e.kind IN ('CELL', 'STATIC_CELL')
                     AND (coalesce(e.is_tombstone, FALSE) OR e.ttl IS NOT NULL)
                     THEN CAST(e.local_deletion_time AS BIGINT)
           END AS local_deletion_time,
           (e.kind IN ('CELL', 'STATIC_CELL')
            AND coalesce(e.is_tombstone, FALSE)) AS is_tombstone,
           (e.kind IN ('CELL', 'STATIC_CELL')
            AND e.ttl IS NOT NULL) AS is_expiring,
           (e.kind = 'CELL' AND coalesce(e.is_counter, FALSE)) AS is_counter,
           CASE WHEN e.kind IN ('CELL', 'STATIC_CELL')
                     AND NOT coalesce(e.is_tombstone, FALSE)
                THEN CAST(e.cell_size AS BIGINT) END AS cell_value,
           e.range_start, e.range_end,
           CAST({_span_sql()} AS BIGINT) AS phys_size,
           -- fixture payloads are 8-byte longs: value_len is 8 exactly
           -- where a value serializes (non-tombstone cell with a payload)
           CASE WHEN e.kind IN ('CELL', 'STATIC_CELL')
                     AND NOT coalesce(e.is_tombstone, FALSE)
                     AND e.cell_size IS NOT NULL
                THEN CAST(8 AS BIGINT) END AS value_len
    FROM enc_rec e
    JOIN enc_part USING (keyspace, table_name, sstable_id, partition_key)
    JOIN enc_mins m USING (keyspace, table_name, sstable_id)
    WHERE e.encodable
),
header_deletes AS (
    SELECT c.keyspace, c.table_name, c.sstable_id, c.partition_key,
           'PARTITION_DELETE' AS kind,
           CAST(NULL AS VARCHAR) AS clustering,
           CAST(NULL AS VARCHAR) AS column_name,
           CAST(NULL AS VARCHAR) AS cell_path,
           CAST(max(c.writetime) AS BIGINT) AS writetime,
           CAST(NULL AS INT) AS ttl,
           CAST(max(c.local_deletion_time) AS BIGINT) AS local_deletion_time,
           FALSE AS is_tombstone, FALSE AS is_expiring, FALSE AS is_counter,
           CAST(NULL AS BIGINT) AS cell_value,
           CAST(NULL AS VARCHAR) AS range_start,
           CAST(NULL AS VARCHAR) AS range_end,
           CAST(NULL AS BIGINT) AS phys_size,
           CAST(NULL AS BIGINT) AS value_len
    FROM cells c
    JOIN phys_sst USING (keyspace, table_name, sstable_id)
    JOIN per_part p USING (keyspace, table_name, sstable_id, partition_key)
    WHERE c.kind = 'PARTITION_DELETE' AND p.psize IS NOT NULL
    GROUP BY 1, 2, 3, 4
    HAVING max(c.local_deletion_time) IS NOT NULL
       AND max(c.writetime) IS NOT NULL
),
decoded AS (
    SELECT * FROM stream_recs UNION ALL SELECT * FROM header_deletes
),
dec_sizes AS (
    SELECT i.keyspace, i.table_name, i.sstable_id, i.partition_key,
           coalesce(lead(i.position) OVER (
               PARTITION BY i.keyspace, i.table_name, i.sstable_id
               ORDER BY i.position), s.uncompressed_length) - i.position AS size
    FROM index_entries i
    JOIN sstables_meta s USING (keyspace, table_name, sstable_id)
    JOIN phys_sst USING (keyspace, table_name, sstable_id)
)"""


def _oracles() -> dict[str, str]:
    from cassandra_sstable_tools_spark.constants import GC_BEFORE, NOW_SECONDS
    from cassandra_sstable_tools_spark.operators.percentiles import (
        percentile_sql,
    )
    from cassandra_sstable_tools_spark.oracles import with_adapter

    ctes = _phys_ctes()
    flags = f"""
dec_flags AS (
    SELECT d.*,
           CASE WHEN d.kind IN ('CELL', 'STATIC_CELL') THEN 1 ELSE 0 END AS f_cell,
           CASE WHEN d.kind IN ('CELL', 'ROW_MARKER', 'ROW_DELETE')
                THEN concat_ws('#', d.sstable_id, d.partition_key, d.clustering)
           END AS row_key,
           CASE WHEN d.kind IN ('CELL', 'ROW_MARKER', 'ROW_DELETE')
                THEN concat_ws('#', d.partition_key, d.clustering)
           END AS sst_row_key,
           CASE WHEN d.kind = 'ROW_DELETE' THEN 1 ELSE 0 END AS f_rowdel,
           CASE WHEN d.kind = 'RANGE_TOMBSTONE_MARKER' THEN 1 ELSE 0 END AS f_rtm,
           CASE WHEN d.kind = 'PARTITION_DELETE' THEN 1 ELSE 0 END AS f_partdel,
           CASE WHEN d.is_tombstone THEN 1 ELSE 0 END AS f_tomb,
           CASE WHEN d.is_tombstone AND d.local_deletion_time < {GC_BEFORE}
                THEN 1 ELSE 0 END AS f_droppable,
           CASE WHEN d.kind IN ('CELL', 'STATIC_CELL') AND NOT d.is_tombstone
                     AND NOT (d.is_expiring
                              AND d.local_deletion_time <= {NOW_SECONDS})
                THEN 1 ELSE 0 END AS f_live,
           CASE WHEN d.is_expiring THEN 1 ELSE 0 END AS f_expiring,
           CASE WHEN d.is_counter THEN 1 ELSE 0 END AS f_counter
    FROM decoded d
)"""
    oracle_cells = with_adapter(
        f",{ctes}\nSELECT * FROM decoded"
    )
    oracle_global = with_adapter(f""",{ctes},{flags},
psizes AS (
    SELECT keyspace, table_name, partition_key,
           CAST(sum(size) AS BIGINT) AS size
    FROM dec_sizes GROUP BY 1, 2, 3
),
pcounts AS (
    SELECT keyspace, table_name, partition_key,
           count(DISTINCT row_key) AS rows,
           sum(f_rowdel) AS row_deletes,
           sum(f_cell) AS cells,
           sum(f_tomb) AS tombstones,
           sum(f_droppable) AS droppable_tombstones
    FROM dec_flags GROUP BY 1, 2, 3
)
SELECT keyspace, table_name,
       count(*) AS partitions,
       CAST(sum(size) AS BIGINT) AS total_size,
       CAST(sum(coalesce(rows, 0)) AS BIGINT) AS row_count,
       CAST(sum(coalesce(row_deletes, 0)) AS BIGINT) AS row_delete_count,
       CAST(sum(coalesce(cells, 0)) AS BIGINT) AS cell_count,
       CAST(sum(coalesce(tombstones, 0)) AS BIGINT) AS tombstone_count,
       CAST(sum(coalesce(droppable_tombstones, 0)) AS BIGINT)
           AS droppable_tombstone_count,
       CAST(floor(sum(size) / count(*)) AS BIGINT) AS avg_partition_size,
       {percentile_sql('size')}
FROM psizes
LEFT JOIN pcounts USING (keyspace, table_name, partition_key)
GROUP BY 1, 2""")
    oracle_sstables = with_adapter(f""",{ctes},{flags},
sst_sizes AS (
    SELECT keyspace, table_name, sstable_id,
           count(*) AS partitions,
           CAST(sum(size) AS BIGINT) AS size
    FROM dec_sizes GROUP BY 1, 2, 3
),
sst_counts AS (
    SELECT keyspace, table_name, sstable_id,
           count(DISTINCT sst_row_key) AS row_count,
           sum(f_rowdel) AS row_delete_count,
           sum(f_cell) AS cell_count,
           sum(f_live) AS live_cell_count,
           sum(f_expiring) AS expiring_cell_count,
           sum(f_counter) AS counter_cell_count,
           sum(f_tomb) AS tombstone_count,
           sum(f_droppable) AS droppable_tombstone_count,
           sum(f_rtm) AS range_tombstone_count,
           sum(f_partdel) AS partition_delete_count,
           min(writetime) AS min_timestamp,
           max(writetime) AS max_timestamp
    FROM dec_flags GROUP BY 1, 2, 3
)
SELECT keyspace, table_name, sstable_id, partitions,
       CAST(coalesce(row_count, 0) AS BIGINT) AS row_count,
       CAST(coalesce(row_delete_count, 0) AS BIGINT) AS row_delete_count,
       CAST(coalesce(cell_count, 0) AS BIGINT) AS cell_count,
       CAST(coalesce(live_cell_count, 0) AS BIGINT) AS live_cell_count,
       CAST(coalesce(expiring_cell_count, 0) AS BIGINT) AS expiring_cell_count,
       CAST(coalesce(counter_cell_count, 0) AS BIGINT) AS counter_cell_count,
       CAST(coalesce(tombstone_count, 0) AS BIGINT) AS tombstone_count,
       CAST(coalesce(droppable_tombstone_count, 0) AS BIGINT)
           AS droppable_tombstone_count,
       CAST(coalesce(range_tombstone_count, 0) AS BIGINT)
           AS range_tombstone_count,
       CAST(coalesce(partition_delete_count, 0) AS BIGINT)
           AS partition_delete_count,
       size, min_timestamp, max_timestamp,
       CASE WHEN coalesce(cell_count, 0) > 0
            THEN CAST(floor(coalesce(live_cell_count, 0) * 100
                            / cell_count) AS BIGINT)
            ELSE 0 END AS liveness_pct
FROM sst_sizes
LEFT JOIN sst_counts USING (keyspace, table_name, sstable_id)""")
    return {
        "data_cells_cassdir": oracle_cells,
        "cfstats_global_cassdir": oracle_global,
        "cfstats_sstables_cassdir": oracle_sstables,
    }


QUERIES = {
    "data_cells_cassdir": data_cells_cassdir,
    "cfstats_global_cassdir": cfstats_global_cassdir,
    "cfstats_sstables_cassdir": cfstats_sstables_cassdir,
}
ORACLES = _oracles()


# --------------------------------------------------------------------------
# purge --cassandra-dir: compaction simulation over DECODED cells with
# REAL serialized sizes -- the last reference command family, directory-only
# --------------------------------------------------------------------------


def fold_cell_path(df: DataFrame, drop: bool = True) -> DataFrame:
    """(column_name, cell_path) -> one ``cell_name`` merge identity:
    path-addressed collection cells fold as ``m0[k3]`` so two map cells
    under DIFFERENT paths never LWW-collide (they are distinct CQL map
    entries), while same-path copies still reconcile. Shared by the purge
    input shaping and the read-time merged view -- the one place the fold
    rule lives. ``drop=False`` keeps the original columns alongside (the
    compaction rewrite merges on the fold but writes the originals
    back)."""
    out = df.withColumn(
        "cell_name",
        F.when(
            F.col("cell_path").isNotNull(),
            F.concat(
                F.col("column_name"), F.lit("["),
                F.col("cell_path"), F.lit("]"),
            ),
        ).otherwise(F.col("column_name")),
    )
    return out.drop("column_name", "cell_path") if drop else out


def _decoded_purge_cells(spark: SparkSession, root: str, filenames=None) -> DataFrame:
    """``report_cells`` shaped as the purge operator's input: cell_name is
    the decoded column name with the CellPath folded in (``m0[k3]``) so two
    map cells under different paths keep DISTINCT merge identities --
    collection cells only LWW-collide on the same path. Header-resident
    partition deletes (NULL size) steer shadowing but add no bytes; the
    oracle replays the same rules."""
    c = fold_cell_path(report_cells(spark, root, filenames))
    # the purge operator references this frame from several branches (the
    # LWW window, the rare-row delete map, the two-level aggregate); an
    # eager localCheckpoint makes the real-file decode run ONCE instead of
    # once per branch -- the decoded frame is record-grain (tiny next to
    # the files), and the blocks free with the plan via the ContextCleaner
    return c.localCheckpoint(eager=True)


def _pk_partitioned(frame: DataFrame) -> DataFrame:
    """One explicit pk-keyed exchange over a decode frame, for the
    registered purge and cfstats-totals queries.

    Decoded scans (and their ``localCheckpoint``) read back as
    UnknownPartitioning, so the purge tail re-shuffled the corpus THREE
    times (the LWW window keyed
    (pk, dedup-key) plus both final aggregation levels keyed
    (pk, sstable) / (pk) -- ``plans/r12/purge_cassdir_merge_before2.txt``
    Exchanges 3/20/23). Hash-partitioning once on (keyspace, table_name,
    partition_key) -- a SUBSET of every downstream clustering key -- lets
    the window, the delete-map aggregate and both aggregation levels all
    reuse this single distribution (optimization guide S2.4: two
    operations keyed the same way share one exchange). REPARTITION_BY_NUM
    (explicit count) so AQE cannot byte-coalesce the corpus below the
    session's parallelism (the r08 s2 lesson). The cfstats two-level
    per-partition fold (pk, sstable) -> pk likewise runs exchange-free on
    it. The adapter-cached parquet path needs none of this: its cells
    cache is already pk-partitioned."""
    n = int(frame.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    return frame.repartition(
        n, F.col("keyspace"), F.col("table_name"), F.col("partition_key")
    )


def _cassdir_purge_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``purge_stats`` over the planted fixture tree's decoded cells."""
    from cassandra_sstable_tools_spark.operators.purge import purge_stats
    from cassandra_sstable_tools_spark.sources.sstable_binary import (
        materialize_index_files,
    )

    root = materialize_index_files(spark, sf_dir)
    return purge_stats(_pk_partitioned(_decoded_purge_cells(spark, root)))


def purge_top_cassdir(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``purge`` top-N reclaimable partitions from a Cassandra data
    DIRECTORY and nothing else: full merge -> purge -> measure
    (operators/purge.py A7/J2/F5 semantics, unchanged) over the decoded
    cell stream with real serialized sizes, ranked by queries/purge.py
    ``top_reclaimable``. With this, all five reference commands run
    directory-only."""
    from cassandra_sstable_tools_spark.queries.purge import top_reclaimable

    return top_reclaimable(_cassdir_purge_stats(spark, sf_dir))


def purge_global_cassdir(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``purge`` global totals, directory-only (see purge_top_cassdir;
    queries/purge.py ``purge_totals``)."""
    from cassandra_sstable_tools_spark.queries.purge import purge_totals

    return purge_totals(_cassdir_purge_stats(spark, sf_dir))


def _purge_cassdir_oracles() -> dict[str, str]:
    import re as _re

    from cassandra_sstable_tools_spark.constants import DEFAULT_TOP_N
    from cassandra_sstable_tools_spark.operators.purge import purge_stats_sql
    from cassandra_sstable_tools_spark.oracles import with_adapter

    # the purge CTE chain runs verbatim over the DECODED universe: point
    # its `cells` references at a dcells CTE built from the shared decoded
    # projection (ONE purge-semantics definition, two input universes)
    purge_ctes = _re.sub(r"\bFROM cells\b", "FROM dcells", purge_stats_sql())
    head = f""",{_phys_ctes()},
dcells AS (
    SELECT keyspace, table_name, sstable_id, partition_key, kind,
           clustering,
           CASE WHEN cell_path IS NOT NULL
                THEN column_name || '[' || cell_path || ']'
                ELSE column_name END AS cell_name,
           writetime,
           local_deletion_time, is_tombstone, is_expiring,
           range_start, range_end,
           phys_size AS cell_size
    FROM decoded
),
{purge_ctes.lstrip().lstrip(',')}"""
    top = with_adapter(f"""{head}
SELECT keyspace, table_name, partition_key, tables, pre_size, merged_size,
       reclaimable, rank
FROM (
    SELECT *, row_number() OVER (
        PARTITION BY keyspace, table_name
        ORDER BY reclaimable DESC, pre_size DESC, partition_key ASC) AS rank
    FROM purge_per_partition
) WHERE rank <= {DEFAULT_TOP_N}
""")
    glob = with_adapter(f"""{head}
SELECT keyspace, table_name,
       count(*) AS partitions,
       CAST(sum(pre_size) AS BIGINT) AS total_size,
       CAST(sum(merged_size) AS BIGINT) AS total_merged,
       CAST(sum(reclaimable) AS BIGINT) AS total_reclaimable
FROM purge_per_partition
GROUP BY 1, 2
""")
    return {"purge_top_cassdir": top, "purge_global_cassdir": glob}


QUERIES["purge_top_cassdir"] = purge_top_cassdir
QUERIES["purge_global_cassdir"] = purge_global_cassdir
ORACLES.update(_purge_cassdir_oracles())


def cfstats_ttl_cassdir(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The cfstats TTL-histogram section (A6, queries/cfstats.py
    ``ttl_histogram``) over the planted fixture tree, decoded from real
    cell flags/deltas rather than the parquet column."""
    from cassandra_sstable_tools_spark.queries.cfstats import ttl_histogram
    from cassandra_sstable_tools_spark.sources.sstable_binary import (
        materialize_index_files,
    )

    return ttl_histogram(data_cells(spark, materialize_index_files(spark, sf_dir)))


def _ttl_oracle() -> str:
    from cassandra_sstable_tools_spark.constants import NO_TTL
    from cassandra_sstable_tools_spark.oracles import with_adapter

    return with_adapter(f""",{_phys_ctes()}
SELECT keyspace, table_name,
       CAST(coalesce(ttl, {NO_TTL}) AS INT) AS ttl,
       count(*) AS cell_count
FROM decoded
WHERE kind IN ('CELL', 'STATIC_CELL')
GROUP BY 1, 2, 3""")


QUERIES["cfstats_ttl_cassdir"] = cfstats_ttl_cassdir
ORACLES["cfstats_ttl_cassdir"] = _ttl_oracle()


# --------------------------------------------------------------------------
# Registered r11 (staged r10, SURVEY §2.9 convention): the value_len payload
# column at an aggregate grain -- per-column payload-byte statistics over the
# decoded frame, the analytic a capacity planner asks of real value data
# --------------------------------------------------------------------------


def cfstats_payload_cassdir(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-column payload statistics from the DECODED frame's value_len
    (r10): cell count, payload-carrying count, total and max payload
    bytes per (keyspace, table, column). The value_len column exists so
    rewrites can never silently drop payloads; this query certifies it
    at the aggregate grain a capacity report consumes."""
    from cassandra_sstable_tools_spark.sources.sstable_binary import (
        materialize_index_files,
    )

    root = materialize_index_files(spark, sf_dir)
    cells = data_cells(spark, root).where(
        F.col("kind").isin("CELL", "STATIC_CELL")
    )
    return cells.groupBy("keyspace", "table_name", "column_name").agg(
        F.count("*").alias("cells"),
        F.count("value_len").alias("payloads"),
        F.sum("value_len").alias("payload_bytes"),
        F.max("value_len").alias("max_payload"),
    )


def _payload_oracle() -> str:
    from cassandra_sstable_tools_spark.oracles import with_adapter

    return with_adapter(f""",{_phys_ctes()}
SELECT keyspace, table_name, column_name,
       CAST(count(*) AS BIGINT) AS cells,
       CAST(count(value_len) AS BIGINT) AS payloads,
       CAST(sum(value_len) AS BIGINT) AS payload_bytes,
       CAST(max(value_len) AS BIGINT) AS max_payload
FROM decoded
WHERE kind IN ('CELL', 'STATIC_CELL')
GROUP BY 1, 2, 3""")


QUERIES["cfstats_payload_cassdir"] = cfstats_payload_cassdir
ORACLES["cfstats_payload_cassdir"] = _payload_oracle()
