"""Data.db cell codec: encode/decode round-trips, general-format paths the
fixture doesn't exercise (multi-cell rows, boundary markers, row-level
liveness sharing), loud-corruption differentials, and the budget-bound
contract. The registered queries' oracle identity runs in
test_core_queries.py like every other query."""

from __future__ import annotations

import struct

import pytest

from cassandra_sstable_tools_spark.sources import data_cells as dc
from cassandra_sstable_tools_spark.sources.data_db import (
    encode_partition_header,
)
from cassandra_sstable_tools_spark.sources.statistics_db import (
    COUNTER_TYPE,
    LONG_TYPE,
    UTF8_TYPE,
    SerializationHeaderInfo,
)


def _header() -> SerializationHeaderInfo:
    clustering_types, statics, regulars = dc.fixture_header_schema()
    return SerializationHeaderInfo(
        min_timestamp=19980401000001,
        min_local_deletion_time=1698986000,
        min_ttl=3600,
        key_type=UTF8_TYPE,
        clustering_types=clustering_types,
        static_columns=statics,
        regular_columns=regulars,
    )


def _rec(**kw) -> dict:
    base = dict(
        kind="CELL", clustering="0007", cell_name="c2", cell_size=1234,
        writetime=19980401000005, ttl=None, local_deletion_time=None,
        is_tombstone=False, is_counter=False, range_start=None,
        range_end=None, partition_key="p",
    )
    base.update(kw)
    return base


def _block(records, h, ldt=dc.LIVE_LDT, mfda=dc.LIVE_MFDA, key=b"k1"):
    return encode_partition_header(key, ldt, mfda) + dc.encode_unfiltereds(
        records, h
    )


def test_round_trip_every_kind():
    h = _header()
    recs = [
        _rec(),
        _rec(clustering="0007", cell_name="c2", cell_size=900,
             writetime=19990401000001, ttl=86400,
             local_deletion_time=1699850123),
        _rec(clustering="0009", cell_name="c4", cell_size=None,
             writetime=19980501000002, local_deletion_time=1698986123,
             is_tombstone=True),
        _rec(clustering="0011", cell_name="c1", cell_size=777,
             writetime=19980601000003, is_counter=True),
        _rec(kind="STATIC_CELL", clustering="0001", cell_name="c0",
             cell_size=555, writetime=19980701000004),
        _rec(kind="ROW_MARKER", clustering="0002", cell_name=None,
             writetime=19980801000005),
        _rec(kind="ROW_DELETE", clustering="0003", cell_name=None,
             writetime=19980901000006, local_deletion_time=1698986999),
        _rec(kind="RANGE_TOMBSTONE_MARKER", clustering="0004",
             cell_name=None, writetime=19981001000007,
             local_deletion_time=1698987000,
             range_start="0004", range_end="0009"),
    ]
    pk, out = dc.decode_partition_block(
        _block(recs, h, ldt=1698990000, mfda=19981101000008), h, source="t"
    )
    assert pk == "k1"
    by_kind = {}
    for r in out:
        by_kind.setdefault(r.kind, []).append(r)
    assert len(by_kind["PARTITION_DELETE"]) == 1
    pd_rec = by_kind["PARTITION_DELETE"][0]
    assert (pd_rec.writetime, pd_rec.ldt) == (19981101000008, 1698990000)
    cells = by_kind["CELL"]
    assert {c.column_name for c in cells} == {"c2", "c4", "c1_ctr"}
    exp = next(c for c in cells if c.ttl is not None)
    assert (exp.ttl, exp.ldt, exp.is_expiring, exp.cell_value) == (
        86400, 1699850123, True, 900)
    tomb = next(c for c in cells if c.is_tombstone)
    assert (tomb.ldt, tomb.cell_value) == (1698986123, None)
    ctr = next(c for c in cells if c.is_counter)
    assert (ctr.column_name, ctr.cell_value) == ("c1_ctr", 777)
    st = by_kind["STATIC_CELL"][0]
    assert (st.clustering, st.column_name, st.cell_value) == (None, "c0", 555)
    rm = by_kind["ROW_MARKER"][0]
    assert (rm.clustering, rm.writetime) == ("0002", 19980801000005)
    rd = by_kind["ROW_DELETE"][0]
    assert (rd.clustering, rd.writetime, rd.ldt) == (
        "0003", 19980901000006, 1698986999)
    rt = by_kind["RANGE_TOMBSTONE_MARKER"][0]
    assert (rt.range_start, rt.range_end, rt.writetime, rt.ldt) == (
        "0004", "0009", 19981001000007, 1698987000)


def test_multi_cell_row_and_row_liveness_sharing():
    """The fixture only writes 1-cell rows; a REAL row carries N cells,
    possibly sharing the row's liveness timestamp/TTL via USE_ROW_* flags.
    Hand-build such a row and decode it -- the general path."""
    h = _header()
    codec = dc._Codec(h)
    clustering = dc._enc_clustering_values([b"0005"], h.clustering_types)
    regs = h.regular_columns
    idx = {name: i for i, (name, _) in enumerate(regs)}
    body = bytearray()
    body += codec.enc_ts(19980601000000)          # row liveness timestamp
    body += codec.enc_ttl(7200)                    # row TTL
    body += codec.enc_ldt(1699850500)              # row local expiration
    body += dc._enc_subset(sorted([idx["c0"], idx["c3"]]), len(regs))
    # cell 1 (c0): shares row timestamp AND row ttl
    body += bytes([dc.CELL_IS_EXPIRING | dc.CELL_USE_ROW_TIMESTAMP
                   | dc.CELL_USE_ROW_TTL])
    body += struct.pack(">q", 111)
    # cell 2 (c3): own timestamp, not expiring
    body += bytes([0])
    body += codec.enc_ts(19980601000009)
    body += struct.pack(">q", 222)
    row = bytearray([dc.HAS_TIMESTAMP | dc.HAS_TTL])
    row += clustering
    row += dc.write_unsigned_vint(len(body))
    row += dc.write_unsigned_vint(0)
    row += body
    block = encode_partition_header(b"k2") + bytes(row) + b"\x01"
    pk, out = dc.decode_partition_block(block, h, source="t")
    assert pk == "k2" and len(out) == 2
    c0 = next(r for r in out if r.column_name == "c0")
    assert (c0.writetime, c0.ttl, c0.ldt, c0.is_expiring, c0.cell_value) == (
        19980601000000, 7200, 1699850500, True, 111)
    c3 = next(r for r in out if r.column_name == "c3")
    assert (c3.writetime, c3.ttl, c3.cell_value) == (19980601000009, None, 222)
    # span attribution: multi-cell row -> per-cell slices, overhead onto
    # the first cell; the two spans must sum to the whole unfiltered
    unf_span = len(block) - (2 + 2 + 12) - 1  # minus partition header + END
    assert c0.phys_size + c3.phys_size == unf_span
    assert c3.phys_size < c0.phys_size  # c0 carries the row overhead


def test_boundary_marker_closes_and_opens():
    """EXCL_END_INCL_START boundary: one clustering position carrying two
    deletion times -- closes the pending RT and opens the next one."""
    h = _header()
    codec = dc._Codec(h)

    def marker(kind_ord, value, deletions):
        head = bytearray([dc.IS_MARKER, kind_ord])
        head += struct.pack(">H", 1)
        head += dc._enc_clustering_values([value], h.clustering_types[:1])
        body = b"".join(
            codec.enc_ts(m) + codec.enc_ldt(l) for m, l in deletions
        )
        head += dc.write_unsigned_vint(len(body))
        head += dc.write_unsigned_vint(0)
        return bytes(head) + body

    d1 = (19980601000001, 1698987001)
    d2 = (19980601000002, 1698987002)
    blob = (
        marker(dc.KIND_INCL_START_BOUND, b"0001", [d1])
        + marker(dc.KIND_EXCL_END_INCL_START_BOUNDARY, b"0005", [d1, d2])
        + marker(dc.KIND_INCL_END_BOUND, b"0009", [d2])
    )
    block = encode_partition_header(b"k3") + blob + b"\x01"
    _, out = dc.decode_partition_block(block, h, source="t")
    rts = [r for r in out if r.kind == "RANGE_TOMBSTONE_MARKER"]
    assert [(r.range_start, r.range_end, r.writetime, r.ldt) for r in rts] == [
        ("0001", "0005", d1[0], d1[1]),
        ("0005", "0009", d2[0], d2[1]),
    ]
    # span attribution: the three markers' bytes all land on the two
    # ranges (the boundary's bytes go to the range it closes)
    assert sum(r.phys_size for r in rts) == len(blob)


def test_corruption_is_loud():
    h = _header()
    good = _block([_rec()], h)
    # truncated mid-row
    with pytest.raises(ValueError, match="corrupt Data.db"):
        dc.decode_partition_block(good[: len(good) - 3], h, source="t")
    # unclosed range tombstone
    only_open = _rec(
        kind="RANGE_TOMBSTONE_MARKER", writetime=19980601000001,
        local_deletion_time=1698987001, range_start="0001", range_end="0002",
    )
    blob = dc.encode_unfiltereds([only_open], h)
    # strip the close marker: find second IS_MARKER byte offset by re-encoding
    open_only = dc._encode_one(only_open, dc._encode_prep(h), 0)
    half = len(open_only) // 2
    block = encode_partition_header(b"k4") + open_only[:half] + b"\x01"
    with pytest.raises(ValueError, match="corrupt Data.db"):
        dc.decode_partition_block(block, h, source="t")
    del blob


def test_budget_bound_is_enforced():
    """A record whose real encoding exceeds its documented cost bound must
    RAISE (the bound is the certified contract the oracle replays) -- use
    an enormous clustering value to blow the 64-byte row bound."""
    h = _header()
    big = _rec(clustering="x" * 200)
    with pytest.raises(ValueError, match="budget bound"):
        dc.encode_unfiltereds([big], h)


def test_budget_rule_matches_oracle_constants():
    assert dc.record_cost_bound("RANGE_TOMBSTONE_MARKER") == 96
    assert dc.record_cost_bound("PARTITION_DELETE") == 0
    assert dc.record_cost_bound("CELL") == 64
    assert dc.BLOCK_OVERHEAD == 27
    # a single-record partition encodes only when its budget covers the
    # record's bound plus the header + END overhead (27 + 64 = 91)
    assert not dc.partition_budget_ok(90, [_rec()])
    assert dc.partition_budget_ok(91, [_rec()])


def test_complex_map_cell_round_trip():
    """Non-frozen map cells: CellPath between liveness fields and value,
    vint-length-prefixed value (collection column types are
    variable-length), live/tombstone/expiring variants."""
    h = _header()
    live = _rec(cell_name="m0", cell_path="key-alpha", cell_size=42,
                writetime=19980401000009)
    tomb = _rec(clustering="0009", cell_name="m0", cell_path="key-beta",
                cell_size=None, writetime=19980501000002,
                local_deletion_time=1698986123, is_tombstone=True)
    exp = _rec(clustering="0011", cell_name="m0", cell_path="key-gamma",
               cell_size=77, writetime=19980601000003, ttl=86400,
               local_deletion_time=1699850123)
    blob = _block([live, tomb, exp], h, key=b"kc")
    pk, out = dc.decode_partition_block(blob, h, source="t")
    assert pk == "kc" and len(out) == 3
    by_path = {r.cell_path: r for r in out}
    assert set(by_path) == {"key-alpha", "key-beta", "key-gamma"}
    a = by_path["key-alpha"]
    assert (a.kind, a.column_name, a.cell_value, a.is_tombstone) == (
        "CELL", "m0", 42, False)
    b = by_path["key-beta"]
    assert (b.is_tombstone, b.cell_value, b.ldt) == (True, None, 1698986123)
    g = by_path["key-gamma"]
    assert (g.is_expiring, g.ttl, g.cell_value) == (True, 86400, 77)
    # spans: three single-record rows must tile the whole stream
    hdr = 2 + 2 + 12
    assert sum(r.phys_size for r in out) == len(blob) - hdr - 1


def test_complex_deletion_round_trip():
    """HAS_COMPLEX_DELETION: the per-column DeletionTime decodes to a
    COMPLEX_DELETE record; a LIVE complex deletion (markedForDeleteAt =
    Long.MIN_VALUE, below every EncodingStats min -- the two's-complement
    wrap path) emits nothing."""
    h = _header()
    cd = _rec(kind="COMPLEX_DELETE", clustering="0005", cell_name="m0",
              cell_size=None, writetime=19980901000006,
              local_deletion_time=1698986999, is_tombstone=True)
    blob = _block([cd], h, key=b"kd")
    pk, out = dc.decode_partition_block(blob, h, source="t")
    assert pk == "kd" and len(out) == 1
    r = out[0]
    assert (r.kind, r.column_name, r.clustering, r.writetime, r.ldt,
            r.is_tombstone) == (
        "COMPLEX_DELETE", "m0", "0005", 19980901000006, 1698986999, True)
    assert r.phys_size is not None and r.phys_size > 0
    # LIVE complex deletion: hand-build the row (the encoder never writes
    # one) -- flag set, LIVE DeletionTime deltas, zero cells
    codec = dc._Codec(h)
    reg_idx = {n: i for i, (n, _) in enumerate(h.regular_columns)}
    body = (
        dc._enc_subset([reg_idx["m0"]], len(h.regular_columns))
        + codec.enc_ts(dc.LIVE_MFDA)
        + codec.enc_ldt(dc.LIVE_LDT)
        + dc.write_unsigned_vint(0)
    )
    row = bytearray([dc.HAS_COMPLEX_DELETION])
    row += dc._enc_clustering_values([b"0005"], h.clustering_types)
    row += dc.write_unsigned_vint(len(body))
    row += dc.write_unsigned_vint(0)
    row += body
    block = encode_partition_header(b"ke") + bytes(row) + b"\x01"
    pk2, out2 = dc.decode_partition_block(block, h, source="t")
    assert pk2 == "ke" and out2 == []


def test_complex_multi_cell_block():
    """One row carrying a complex deletion AND several map cells in the
    same column block -- the general shape a real Cassandra row has after
    ``m = {...}`` overwrite semantics."""
    h = _header()
    codec = dc._Codec(h)
    reg_idx = {n: i for i, (n, _) in enumerate(h.regular_columns)}

    def cell(ts, path, val):
        out = bytearray([0])
        out += codec.enc_ts(ts)
        pb = path.encode()
        out += dc.write_unsigned_vint(len(pb)) + pb
        vb = __import__("struct").pack(">q", val)
        out += dc.write_unsigned_vint(len(vb)) + vb
        return bytes(out)

    body = (
        dc._enc_subset([reg_idx["m0"]], len(h.regular_columns))
        + codec.enc_ts(19980401000001)       # complex deletion mfda
        + codec.enc_ldt(1698986100)          # complex deletion ldt
        + dc.write_unsigned_vint(2)
        + cell(19980401000005, "ka", 11)
        + cell(19980401000006, "kb", 22)
    )
    row = bytearray([dc.HAS_COMPLEX_DELETION])
    row += dc._enc_clustering_values([b"0003"], h.clustering_types)
    row += dc.write_unsigned_vint(len(body))
    row += dc.write_unsigned_vint(0)
    row += body
    block = encode_partition_header(b"kf") + bytes(row) + b"\x01"
    _, out = dc.decode_partition_block(block, h, source="t")
    kinds = [r.kind for r in out]
    assert kinds.count("COMPLEX_DELETE") == 1
    assert kinds.count("CELL") == 2
    cells = {r.cell_path: r.cell_value for r in out if r.kind == "CELL"}
    assert cells == {"ka": 11, "kb": 22}
    cd = next(r for r in out if r.kind == "COMPLEX_DELETE")
    assert (cd.writetime, cd.ldt) == (19980401000001, 1698986100)
    # span tiling: all records' spans sum to the whole unfiltered row
    assert sum(r.phys_size for r in out) == len(row)


def test_frozen_collection_stays_simple():
    """A FrozenType-wrapped collection is a single-cell SIMPLE column: one
    vint-length-prefixed blob, no CellPath."""
    from cassandra_sstable_tools_spark.sources.statistics_db import (
        MAP_UTF8_LONG_TYPE,
        is_complex_type,
    )

    frozen = (
        "org.apache.cassandra.db.marshal.FrozenType("
        + MAP_UTF8_LONG_TYPE + ")"
    )
    assert is_complex_type(MAP_UTF8_LONG_TYPE)
    assert not is_complex_type(frozen)
    assert not is_complex_type(LONG_TYPE)
    ct, st, _ = dc.fixture_header_schema()
    h = SerializationHeaderInfo(
        min_timestamp=100, min_local_deletion_time=50, min_ttl=0,
        key_type=UTF8_TYPE, clustering_types=ct, static_columns=st,
        regular_columns=[("fz", frozen)],
    )
    rec = dict(kind="CELL", clustering="0001", cell_name="fz", cell_size=9,
               writetime=105, ttl=None, local_deletion_time=None,
               is_tombstone=False, is_counter=False, range_start=None,
               range_end=None, partition_key="p")
    blob = _block([rec], h, key=b"kg")
    _, out = dc.decode_partition_block(blob, h, source="t")
    assert len(out) == 1
    assert (out[0].column_name, out[0].cell_path, out[0].cell_value) == (
        "fz", None, 9)


def test_complex_encoder_guards():
    """Encoder fail-loud: a path on a simple column, a complex column
    without a path -- both named errors, never silent mis-encodes."""
    h = _header()
    with pytest.raises(ValueError, match="simple type"):
        dc.encode_unfiltereds([_rec(cell_path="k1")], h)
    with pytest.raises(ValueError, match="needs a cell_path"):
        dc.encode_unfiltereds([_rec(cell_name="m0")], h)


def test_fixture_complex_transform_rule():
    """The v12 transform is exactly the documented predicate: regular
    non-counter c4 cells, path k(abs(writetime) % 10)."""
    assert dc.fixture_complex_path(_rec(cell_name="c4",
                                        writetime=19980401000007)) == "k7"
    assert dc.fixture_complex_path(_rec(cell_name="c3")) is None
    assert dc.fixture_complex_path(
        _rec(cell_name="c4", is_counter=True)) is None
    assert dc.fixture_complex_path(
        _rec(kind="STATIC_CELL", cell_name="c4")) is None


def test_flipped_byte_differential(spark, sf_dir, tmp_path):
    """End-to-end differential over the planted tree: flipping one byte in
    a real cell body either raises or changes the decoded rows -- the
    codec cannot silently shrug off corruption."""
    from cassandra_sstable_tools_spark.sources.sstable_binary import (
        materialize_index_files,
    )

    root = materialize_index_files(spark, sf_dir, root=str(tmp_path / "cas"))
    base = dc.data_cells(spark, root).toPandas()
    assert len(base) > 0
    # find one uncompressed Data.db with content and flip a cell byte
    import glob
    import os
    import shutil

    target = None
    for p in sorted(glob.glob(f"{root}/**/*-Data.db", recursive=True)):
        comp = p[: -len("Data.db")] + "CompressionInfo.db"
        stats = p[: -len("Data.db")] + "Statistics.db"
        if not os.path.exists(comp) and os.path.exists(stats):
            target = p
            break
    assert target is not None
    mutated = tmp_path / "mut"
    shutil.copytree(root, mutated)
    mpath = str(mutated / os.path.relpath(target, root))
    with open(mpath, "r+b") as f:
        f.seek(40)  # inside the first partition's stream
        b = f.read(1)
        f.seek(40)
        f.write(bytes([b[0] ^ 0xFF]))
    try:
        got = dc.data_cells(spark, str(mutated)).toPandas()
    except Exception:
        return  # loud failure: acceptable outcome
    assert not got.equals(base), "flipped byte decoded identically"


def test_sharded_decode_is_shard_invariant(spark, sf_dir, tmp_path):
    """shards_per_sstable splits one sstable's decode across tasks over
    contiguous position ranges; the output must be EXACTLY the unsharded
    frame (the index-driven splittability claim, pinned)."""
    from cassandra_sstable_tools_spark.sources.sstable_binary import (
        materialize_index_files,
    )

    root = materialize_index_files(spark, sf_dir)
    base = sorted(
        map(tuple, dc.data_cells(spark, root).collect())
    )
    assert base, "empty decode -- vacuous"
    for shards in (3, 7):
        sharded = sorted(
            map(tuple, dc.data_cells(
                spark, root, shards_per_sstable=shards).collect())
        )
        assert sharded == base, f"shards={shards} diverged"
    # strip every Summary.db: the sharded decode must fall back to the
    # full-stream slice and still be bit-identical (the summary-seek
    # fast path (r08 s2) is an optimization, never a semantic)
    import shutil

    nosumm = str(tmp_path / "nosumm")
    shutil.copytree(root, nosumm)
    removed = 0
    for dirpath, _, files in __import__("os").walk(nosumm):
        for fname in files:
            if fname.endswith("-Summary.db"):
                __import__("os").remove(
                    __import__("os").path.join(dirpath, fname))
                removed += 1
    assert removed > 0
    fallback = sorted(
        map(tuple, dc.data_cells(
            spark, nosumm, shards_per_sstable=3).collect())
    )
    assert fallback == base, "summary-less fallback diverged"


def test_cassdir_cfstats_honors_filename_filter(spark, sf_dir):
    """-f restricts the decoded universe at the FILE listing (the
    reference's reader-skip grain) for the r08 cfstats/purge directory
    surfaces, same contract the pstats path already pins."""
    from cassandra_sstable_tools_spark.sources.sstable_binary import (
        materialize_index_files,
    )

    root = materialize_index_files(spark, sf_dir)
    all_sst = {
        (r.table_name, r.sstable_id)
        for r in dc.data_cells(spark, root).select(
            "table_name", "sstable_id").distinct().collect()
    }
    assert len(all_sst) > 1
    tb, ss = sorted(all_sst)[0]
    names = [f"nb-{ss}-big-Data.db"]
    got = {
        (r.table_name, r.sstable_id)
        for r in dc.data_cells(spark, root, filenames=names).select(
            "table_name", "sstable_id").distinct().collect()
    }
    # the filter keys on FILENAME; the fixture reuses sstable ids across
    # tables, so every table's copy of this id passes -- but no other id
    assert got == {(t, s) for (t, s) in all_sst if s == ss}
    sizes = dc.dir_partition_sizes(spark, root, filenames=names)
    assert {
        (r.table_name, r.sstable_id)
        for r in sizes.select("table_name", "sstable_id").distinct().collect()
    } == got


# --------------------------------------------------------------------------
# Property-based fuzzing: random valid record sets must round-trip through
# encode_unfiltereds -> decode_partition_block exactly
# --------------------------------------------------------------------------

from hypothesis import given, settings
from hypothesis import strategies as st

# codepoints 0x7F-0x9F excluded: C1 controls hex-render by design (the
# display heuristic has its own tests); here values must round-trip as text
_CLUSTER = st.one_of(
    st.none(),
    st.text(
        alphabet=st.one_of(
            st.characters(min_codepoint=0x20, max_codepoint=0x7E),
            st.characters(min_codepoint=0xA0, max_codepoint=0x2FF),
        ),
        min_size=0, max_size=12,
    ),
)
_WT = st.integers(min_value=10_000_000, max_value=2_000_000_000_000_000)
_LDT = st.integers(min_value=1, max_value=2_147_000_000)
_TTL = st.integers(min_value=1, max_value=630_720_000)


@st.composite
def _rand_rec(draw):
    kind = draw(st.sampled_from(
        ["CELL", "STATIC_CELL", "ROW_MARKER", "ROW_DELETE",
         "RANGE_TOMBSTONE_MARKER"]))
    rec = dict(
        kind=kind, clustering=draw(_CLUSTER), cell_name=None,
        cell_size=None, writetime=draw(_WT), ttl=None,
        local_deletion_time=None, is_tombstone=False, is_counter=False,
        range_start=None, range_end=None, partition_key="p",
    )
    if kind in ("CELL", "STATIC_CELL"):
        rec["cell_name"] = draw(st.sampled_from([f"c{i}" for i in range(5)]))
        rec["is_tombstone"] = draw(st.booleans())
        if kind == "CELL" and not rec["is_tombstone"]:
            rec["is_counter"] = draw(st.booleans())
        if not rec["is_tombstone"] and draw(st.booleans()):
            rec["ttl"] = draw(_TTL)
        if rec["is_tombstone"] or rec["ttl"] is not None:
            rec["local_deletion_time"] = draw(_LDT)
        if draw(st.booleans()):
            rec["cell_size"] = draw(st.integers(0, (1 << 62)))
    elif kind == "ROW_DELETE":
        rec["local_deletion_time"] = draw(_LDT)
    elif kind == "RANGE_TOMBSTONE_MARKER":
        rec["local_deletion_time"] = draw(_LDT)
        rec["range_start"] = draw(_CLUSTER)
        rec["range_end"] = draw(_CLUSTER)
    return rec


@settings(max_examples=60, deadline=None)
@given(st.lists(_rand_rec(), min_size=1, max_size=12), st.data())
def test_codec_round_trip_fuzz(recs, data):
    """Random valid record sets round-trip exactly: every decoded field
    equals the physical projection of its input, spans sum to the stream,
    and the EncodingStats minima are honored (no negative deltas)."""
    from cassandra_sstable_tools_spark.sources.statistics_db import (
        ENC_DELETION_TIME_EPOCH,
    )

    recs = [r for r in recs if dc.record_encodable(r)]
    if not recs:
        return
    clustering_types, statics, regulars = dc.fixture_header_schema()
    min_wt = min(r["writetime"] for r in recs)
    ldts = [r["local_deletion_time"] for r in recs
            if r["local_deletion_time"] is not None]
    ttls = [r["ttl"] for r in recs if r["ttl"] is not None]
    h = SerializationHeaderInfo(
        min_timestamp=min_wt,
        min_local_deletion_time=min(ldts) if ldts else ENC_DELETION_TIME_EPOCH,
        min_ttl=min(ttls) if ttls else 0,
        key_type=UTF8_TYPE,
        clustering_types=clustering_types,
        static_columns=statics,
        regular_columns=regulars,
    )
    body = dc.encode_unfiltereds(recs, h)
    block = encode_partition_header(b"pk") + body
    pk, out = dc.decode_partition_block(block, h, source="fuzz")
    assert pk == "pk"
    assert len(out) == len(recs)
    # spans account for every stream byte except the END marker
    assert sum(r.phys_size for r in out) == len(body) - 1

    def expect(r):
        kind = r["kind"]
        clustering = (None if kind in ("STATIC_CELL", "RANGE_TOMBSTONE_MARKER")
                      else r["clustering"])
        is_cell = kind in ("CELL", "STATIC_CELL")
        counter = kind == "CELL" and bool(r["is_counter"])
        return (
            kind, clustering,
            (r["cell_name"] + ("_ctr" if counter else "")) if is_cell else None,
            r["writetime"],
            r["ttl"] if is_cell else None,
            r["local_deletion_time"]
            if (kind in ("ROW_DELETE", "RANGE_TOMBSTONE_MARKER")
                or (is_cell and (r["is_tombstone"] or r["ttl"] is not None)))
            else None,
            is_cell and bool(r["is_tombstone"]),
            is_cell and r["ttl"] is not None,
            counter,
            r["cell_size"] if (is_cell and not r["is_tombstone"]) else None,
            r["range_start"], r["range_end"],
        )

    got = sorted(
        ((o.kind, o.clustering, o.column_name, o.writetime, o.ttl, o.ldt,
          o.is_tombstone, o.is_expiring, o.is_counter, o.cell_value,
          o.range_start, o.range_end)
         for o in out),
        key=repr,
    )
    assert got == sorted((expect(r) for r in recs), key=repr)


def test_set_and_list_cell_paths():
    """Set cells (path = element, EMPTY value) and list cells (path =
    timeuuid position, value present) decode through the same CellPath
    branch -- hand-built blocks over ad-hoc headers."""
    import struct as _struct

    from cassandra_sstable_tools_spark.sources.statistics_db import (
        SET_UTF8_TYPE,
    )

    list_type = (
        "org.apache.cassandra.db.marshal.ListType("
        "org.apache.cassandra.db.marshal.LongType)"
    )
    ct, st, _ = dc.fixture_header_schema()
    h = SerializationHeaderInfo(
        min_timestamp=100, min_local_deletion_time=50, min_ttl=0,
        key_type=UTF8_TYPE, clustering_types=ct, static_columns=st,
        regular_columns=[("l0", list_type), ("s0", SET_UTF8_TYPE)],
    )
    codec = dc._Codec(h)

    def cell(ts, path: bytes, val: bytes | None):
        out = bytearray([dc.CELL_HAS_EMPTY_VALUE if val is None else 0])
        out += codec.enc_ts(ts)
        out += dc.write_unsigned_vint(len(path)) + path
        if val is not None:
            out += dc.write_unsigned_vint(len(val)) + val
        return bytes(out)

    body = (
        dc._enc_subset([0, 1], 2)          # both columns present
        + dc.write_unsigned_vint(1)        # l0: one list cell
        + cell(105, b"\x11" * 16, _struct.pack(">q", 77))
        + dc.write_unsigned_vint(2)        # s0: two set cells
        + cell(106, b"alpha", None)
        + cell(107, b"beta", None)
    )
    row = bytearray([0])
    row += dc._enc_clustering_values([b"0001"], h.clustering_types)
    row += dc.write_unsigned_vint(len(body))
    row += dc.write_unsigned_vint(0)
    row += body
    block = encode_partition_header(b"kl") + bytes(row) + b"\x01"
    _, out = dc.decode_partition_block(block, h, source="t")
    assert len(out) == 3
    l0 = next(r for r in out if r.column_name == "l0")
    # list positions are TimeUUIDs and render as such (validator display)
    assert (l0.cell_path, l0.cell_value) == (
        "11111111-1111-1111-1111-111111111111", 77)
    s0 = sorted(
        (r for r in out if r.column_name == "s0"),
        key=lambda r: r.cell_path,
    )
    assert [(r.cell_path, r.cell_value) for r in s0] == [
        ("alpha", None), ("beta", None)]
    assert sum(r.phys_size for r in out) == len(row)


def test_composite_clustering_display():
    """Multi-column clusterings render ALL components ':'-joined (the
    historical single-column rendering is unchanged by construction)."""
    codec_types = [
        "org.apache.cassandra.db.marshal.UTF8Type",
        "org.apache.cassandra.db.marshal.LongType",
        "org.apache.cassandra.db.marshal.UTF8Type",
    ]
    h = SerializationHeaderInfo(
        min_timestamp=100, min_local_deletion_time=50, min_ttl=0,
        key_type=UTF8_TYPE, clustering_types=codec_types,
        static_columns=[], regular_columns=[("v", LONG_TYPE)],
    )
    codec = dc._Codec(h)
    body = bytearray()
    body += codec.enc_ts(105)
    body += dc._enc_subset([0], 1)
    body += bytes([dc.CELL_USE_ROW_TIMESTAMP])
    body += __import__("struct").pack(">q", 9)
    row = bytearray([dc.HAS_TIMESTAMP])
    row += dc._enc_clustering_values(
        [b"alpha", (42).to_bytes(8, "big"), None], codec_types
    )
    row += dc.write_unsigned_vint(len(body))
    row += dc.write_unsigned_vint(0)
    row += body
    block = encode_partition_header(b"kc") + bytes(row) + b"\x01"
    _, out = dc.decode_partition_block(block, h, source="t")
    assert len(out) == 1
    # typed components render via their header types; NULL -> empty
    assert out[0].clustering == "alpha:42:"


def test_validator_typed_rendering():
    """Partition keys and clustering values render through the sstable's
    OWN header types (the reference's validator rendering) -- a long key
    displays numerically, text stays text, width mismatches fall back."""
    from cassandra_sstable_tools_spark.sources.sstable_binary import (
        render_typed,
    )
    from cassandra_sstable_tools_spark.sources.statistics_db import (
        LONG_TYPE,
        MAP_UTF8_LONG_TYPE,
        SET_UTF8_TYPE,
    )

    assert render_typed((302).to_bytes(8, "big", signed=True), LONG_TYPE) \
        == "302"
    assert render_typed(b"text", UTF8_TYPE) == "text"
    assert render_typed(b"\x01\x02", LONG_TYPE) == "0x0102"  # wrong width
    assert render_typed(
        b"\x01", "org.apache.cassandra.db.marshal.BooleanType") == "true"
    # path display types: map key, set element, list position
    assert dc._path_type_of(MAP_UTF8_LONG_TYPE) == UTF8_TYPE
    assert dc._path_type_of(SET_UTF8_TYPE) == UTF8_TYPE
    assert dc._path_type_of(
        "org.apache.cassandra.db.marshal.ListType("
        "org.apache.cassandra.db.marshal.LongType)"
    ) == "org.apache.cassandra.db.marshal.TimeUUIDType"

    # end-to-end: a LongType-keyed, LongType-clustered sstable block
    h = SerializationHeaderInfo(
        min_timestamp=100, min_local_deletion_time=50, min_ttl=0,
        key_type=LONG_TYPE, clustering_types=[LONG_TYPE],
        static_columns=[], regular_columns=[("v", LONG_TYPE)],
    )
    codec = dc._Codec(h)
    body = bytearray()
    body += codec.enc_ts(105)
    body += dc._enc_subset([0], 1)
    body += bytes([dc.CELL_USE_ROW_TIMESTAMP])
    body += struct.pack(">q", 9)
    row = bytearray([dc.HAS_TIMESTAMP])
    row += dc._enc_clustering_values(
        [(77).to_bytes(8, "big", signed=True)], [LONG_TYPE]
    )
    row += dc.write_unsigned_vint(len(body))
    row += dc.write_unsigned_vint(0)
    row += body
    key = (302).to_bytes(8, "big", signed=True)
    block = encode_partition_header(key) + bytes(row) + b"\x01"
    pk, out = dc.decode_partition_block(block, h, source="t")
    assert pk == "302"
    assert out[0].clustering == "77"


def test_udt_cell_path_renders_position():
    """Non-frozen UDT cells: the CellPath holds the 2-byte field position
    and displays numerically."""
    udt = (
        "org.apache.cassandra.db.marshal.UserType(ks,61646472657373,"
        "737472656574:org.apache.cassandra.db.marshal.UTF8Type,"
        "63697479:org.apache.cassandra.db.marshal.UTF8Type)"
    )
    assert dc._path_type_of(udt) == "org.apache.cassandra.db.marshal.ShortType"
    ct, st, _ = dc.fixture_header_schema()
    h = SerializationHeaderInfo(
        min_timestamp=100, min_local_deletion_time=50, min_ttl=0,
        key_type=UTF8_TYPE, clustering_types=ct, static_columns=st,
        regular_columns=[("u0", udt)],
    )
    codec = dc._Codec(h)
    body = bytearray()
    body += codec.enc_ts(105)
    body += dc._enc_subset([0], 1)
    body += dc.write_unsigned_vint(1)  # one cell
    cell = bytearray([0])
    cell += codec.enc_ts(106)
    cell += dc.write_unsigned_vint(2) + (1).to_bytes(2, "big")  # field 1
    cell += dc.write_unsigned_vint(4) + b"Oslo"
    body += cell
    row = bytearray([dc.HAS_TIMESTAMP])
    row += dc._enc_clustering_values([b"0001"], h.clustering_types)
    row += dc.write_unsigned_vint(len(body))
    row += dc.write_unsigned_vint(0)
    row += body
    block = encode_partition_header(b"ku") + bytes(row) + b"\x01"
    _, out = dc.decode_partition_block(block, h, source="t")
    assert len(out) == 1
    assert (out[0].column_name, out[0].cell_path) == ("u0", "1")
