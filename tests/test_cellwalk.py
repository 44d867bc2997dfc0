"""C structure-walk decode kernel (sources/cellwalk.py + _cellwalk.c):
byte-identity with the interpreted kernel over the fixture tree, identical
error messages under truncation/corruption, and the decline->fallback
contract. The full exhaustive sweep (157k+ mutated blocks per keep_values
mode) lives in the optimization round's evidence; this pins a fast
representative subset on every test run."""

from __future__ import annotations

import os
import struct

import pytest

from cassandra_sstable_tools_spark.sources import cellwalk
from cassandra_sstable_tools_spark.sources import data_cells as dc
from cassandra_sstable_tools_spark.sources.data_db import (
    encode_partition_header,
)
from cassandra_sstable_tools_spark.sources.statistics_db import (
    UTF8_TYPE,
    SerializationHeaderInfo,
)

pytestmark = pytest.mark.skipif(
    not cellwalk.available(), reason="C kernel unavailable (no gcc)"
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


def _every_kind_block() -> bytes:
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
    return encode_partition_header(
        b"k1", 1698990000, 19981101000008
    ) + dc.encode_unfiltereds(recs, h)


def _boundary_block() -> bytes:
    h = _header()
    codec = dc._Codec(h)

    def marker(kind_ord, value, deletions):
        head = bytearray([dc.IS_MARKER, kind_ord])
        head += struct.pack(">H", 1)
        head += dc._enc_clustering_values([value], h.clustering_types[:1])
        body = b"".join(
            codec.enc_ts(m) + codec.enc_ldt(ld) for m, ld in deletions
        )
        head += dc.write_unsigned_vint(len(body))
        head += dc.write_unsigned_vint(0)
        return bytes(head) + body

    d1 = (19980601000001, 1698987001)
    d2 = (19980601000002, 1698987002)
    return encode_partition_header(b"k3") + (
        marker(dc.KIND_INCL_START_BOUND, b"0001", [d1])
        + marker(dc.KIND_EXCL_END_INCL_START_BOUNDARY, b"0005", [d1, d2])
        + marker(dc.KIND_INCL_END_BOUND, b"0009", [d2])
    ) + b"\x01"


def _run_python(block, header, base, kv=False):
    try:
        pk, recs = dc.decode_partition_block(
            block, header, source="S", base=base, keep_values=kv
        )
        get = dc._REC_GET_VALUES if kv else dc._REC_GET
        return ("ok", pk, [get(r) for r in recs])
    except ValueError as e:
        return ("err", str(e))


def _run_c(block, header, base, kv=False):
    try:
        bundle = cellwalk.walk_spans(
            header, [(block, [(base, 0, len(block))])], "S", kv
        )
        rows = []
        for rb in cellwalk.assemble_batches(
            bundle, header, "k", "t", "s", "cm", kv
        ):
            cols = [c.to_pylist() for c in rb.columns]
            for tup in zip(*cols):
                rows.append(tuple(tup[4:len(tup) - (1 if kv else 0)]))
        from cassandra_sstable_tools_spark.sources.sstable_binary import (
            render_typed,
        )
        if len(bundle["key_off"]):
            o = int(bundle["key_off"][0])
            ln = int(bundle["key_len"][0])
            pk = render_typed(bundle["karena"][o:o + ln], header.key_type)
        else:
            pk = None
        return ("ok", pk, rows)
    except cellwalk._NeedPython:
        return _run_python(block, header, base, kv)
    except ValueError as e:
        return ("err", str(e))


@pytest.mark.parametrize("kv", [False, True])
def test_mutation_differential_synthetic(kv):
    """Exhaustive truncation + single-byte corruption over the every-kind
    and boundary-marker blocks: identical records or identical error
    messages, case by case."""
    h = _header()
    for block in (_every_kind_block(), _boundary_block()):
        for cut in range(len(block)):
            assert _run_python(block[:cut], h, 7, kv) == _run_c(
                block[:cut], h, 7, kv
            ), f"truncation at {cut} diverged"
        for i in range(len(block)):
            mut = bytearray(block)
            mut[i] ^= 0xFF
            assert _run_python(bytes(mut), h, 7, kv) == _run_c(
                bytes(mut), h, 7, kv
            ), f"corruption at byte {i} diverged"


def test_scan_identity_over_fixture_tree(spark, sf_dir):
    """scan_sstable_cell_batches == scan_sstable_cell_rows row-for-row over
    every fixture sstable, plain + with_values + sharded."""
    import glob

    from cassandra_sstable_tools_spark.sources.sstable_binary import (
        materialize_index_files,
    )

    root = materialize_index_files(spark, sf_dir)
    paths = sorted(glob.glob(f"{root}/**/*-Index.db", recursive=True))
    assert paths
    checked = 0
    for wv in (False, True):
        for shards in (1, 3):
            for p in paths:
                for s in range(shards):
                    ref = dc.scan_sstable_cell_rows(
                        p, s, shards, with_values=wv
                    )
                    got = []
                    for rb in dc.scan_sstable_cell_batches(
                        p, s, shards, with_values=wv
                    ):
                        got.extend(
                            zip(*[c.to_pylist() for c in rb.columns])
                        )
                    assert ref == got, (p, s, shards, wv)
                    checked += len(ref)
    assert checked > 0


def test_kill_switch_falls_back(monkeypatch):
    """SPARK_GRAFT_NO_CELLWALK routes the batch scan through the
    interpreted kernel (same rows, by construction)."""
    import importlib

    monkeypatch.setenv("SPARK_GRAFT_NO_CELLWALK", "1")
    import cassandra_sstable_tools_spark.sources.cellwalk as cw

    importlib.reload(cw)
    try:
        assert not cw.available()
    finally:
        monkeypatch.delenv("SPARK_GRAFT_NO_CELLWALK")
        importlib.reload(cw)
        assert cw.available()


def test_kernel_cache_is_keyed_on_the_platform(monkeypatch, tmp_path):
    """A binary cached under the source hash alone (another host's build
    in a shared cache) is never loaded: the kernel builds under a key of
    machine, compiler version and source, and loads."""
    import hashlib

    import cassandra_sstable_tools_spark.sources.cellwalk as cw

    monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path))
    with open(cw._SRC, "rb") as f:
        old = hashlib.md5(f.read()).hexdigest()[:16]
    cache = tmp_path / "sstable-cellwalk"
    cache.mkdir()
    (cache / f"cellwalk-{old}.so").write_bytes(b"not an ELF object")
    monkeypatch.setattr(cw, "_lib", None)
    monkeypatch.setattr(cw, "_lib_tried", False)
    so = cw._compile()
    assert so is not None and so.startswith(str(cache))
    assert os.path.basename(so) != f"cellwalk-{old}.so"
    assert cw._load() is not None
    assert cw._compile() == so  # cached: the second call compiles nothing


def test_ttl_out_of_int32_declines_to_python():
    """A decodable block whose ttl exceeds int32 makes the C path decline
    (_NeedPython) so the task re-runs the interpreted kernel and fails --
    or succeeds -- exactly as the interpreted path does."""
    h = _header()
    # ttl delta that decodes fine but lands far outside int32
    block = encode_partition_header(b"k9") + dc.encode_unfiltereds(
        [_rec(ttl=2**40, local_deletion_time=1699850123,
              writetime=19990401000001)], h
    )
    py = _run_python(block, h, 0)
    assert py[0] == "ok" and py[2][0][5] == 2**40  # ttl field
    with pytest.raises(cellwalk._NeedPython):
        cellwalk.walk_spans(h, [(block, [(0, 0, len(block))])], "S", False)
    # the public entry produces the interpreted rows via the fallback
    assert _run_c(block, h, 0) == py
