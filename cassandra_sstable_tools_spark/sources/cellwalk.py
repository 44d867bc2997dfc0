"""ctypes loader + Arrow assembly for the C structure-walk decode kernel.

``_cellwalk.c`` mirrors ``data_cells.decode_partition_block``'s byte walk
exactly (same reads, same bounds checks, same error conditions at the same
byte offsets) but emits COLUMNAR arrays instead of per-record Python
objects; this module compiles it on demand (gcc, cached per platform
and source), renders the display strings (partition keys, clustering
values, cell paths) through the SAME cached Python renderers the
interpreted kernel uses, and assembles pyarrow RecordBatches directly --
removing both the per-field Python dispatch and the per-record
``_Rec``/tuple/transpose marshal from the scan hot path (optimization
guide §4.2: Spark distributes, native code crunches).

Safety contract:
- the pure-Python kernel stays the reference: ``available()`` is False
  whenever gcc or the compile is unavailable (or
  ``SPARK_GRAFT_NO_CELLWALK=1``), and every caller falls back to the
  interpreted path;
- decode errors raise byte-identical ``ValueError`` messages (the error
  code -> message table below mirrors every raise site);
- the C kernel refuses (falls back, per sstable) on the two conditions it
  cannot represent faithfully: allocator failure and ttl arithmetic
  overflow beyond int64 (Python's unbounded ints overflow loudly later at
  the Arrow boundary instead);
- byte-identity with the interpreted kernel over every fixture sstable
  x {plain, with_values, sharded} and identical error messages under
  exhaustive truncation + single-byte corruption are pinned by
  tests/test_cellwalk.py.
"""

from __future__ import annotations

import ctypes
import hashlib
import os
import platform
import subprocess
import tempfile
from collections.abc import Iterator

_SRC = os.path.join(os.path.dirname(os.path.abspath(__file__)), "_cellwalk.c")

_KINDS = [
    "CELL", "STATIC_CELL", "ROW_MARKER", "ROW_DELETE",
    "RANGE_TOMBSTONE_MARKER", "PARTITION_DELETE", "COMPLEX_DELETE",
]

# error code -> message template; mirrors decode_partition_block verbatim
_ERR_FMT = {
    1: "read of {p0} bytes runs past partition block end",
    2: "vint runs past partition block end",
    3: "implausible clustering value length {p0}",
    4: "implausible cell path length {p0}",
    5: "implausible cell value length {p0}",
    6: "unfiltered stream exceeds 1e8 entries",
    7: "bound arity {p0} exceeds {p1} clustering columns",
    8: "two open range-tombstone bounds in a row",
    9: "close range-tombstone bound without an open",
    10: "unexpected bound kind ordinal {p0}",
    11: "marker body overran its declared size",
    12: "shadowable deletions are out of scope",
    13: "column supersets >= 64 are out of scope",
    14: "column subset bitmap {p0:#x} wider than header",
    15: "implausible complex cell count {p0}",
    16: "row body overran its declared size",
    17: "partition ended with an unclosed range tombstone",
}
_E_OOM = 18
_E_TTL_OVERFLOW = 19


class _ColInfo(ctypes.Structure):
    _fields_ = [
        ("fixed", ctypes.c_int32),
        ("is_complex", ctypes.c_uint8),
        ("is_counter", ctypes.c_uint8),
    ]


class _Err(ctypes.Structure):
    _fields_ = [
        ("code", ctypes.c_int32),
        ("block", ctypes.c_int32),
        ("off", ctypes.c_int64),
        ("p0", ctypes.c_int64),
        ("p1", ctypes.c_int64),
    ]


_P_U8 = ctypes.POINTER(ctypes.c_uint8)
_P_I32 = ctypes.POINTER(ctypes.c_int32)
_P_I64 = ctypes.POINTER(ctypes.c_int64)


class _Ctx(ctypes.Structure):
    # MUST mirror the Ctx struct layout in _cellwalk.c field-for-field
    _fields_ = [
        ("n", ctypes.c_int64), ("cap", ctypes.c_int64),
        ("kind", _P_U8),
        ("col", _P_I32), ("crow", _P_I32), ("srow", _P_I32), ("erow", _P_I32),
        ("wt", _P_I64), ("has_wt", _P_U8),
        ("ttl", _P_I64), ("has_ttl", _P_U8),
        ("ldt", _P_I64), ("has_ldt", _P_U8),
        ("flags", _P_U8),
        ("cellv", _P_I64), ("has_cellv", _P_U8),
        ("phys", _P_I64), ("has_phys", _P_U8),
        ("vlen", _P_I64), ("has_vlen", _P_U8),
        ("path_off", _P_I64), ("path_len", _P_I32),
        ("val_off", _P_I64),
        ("rn", ctypes.c_int64), ("rcap", ctypes.c_int64),
        ("row_first", _P_I64), ("row_arity", _P_I32),
        ("vn", ctypes.c_int64), ("vcap", ctypes.c_int64),
        ("cv_off", _P_I64), ("cv_len", _P_I32),
        ("bn", ctypes.c_int64), ("bcap", ctypes.c_int64),
        ("key_off", _P_I64), ("key_len", _P_I32), ("blk_nrec", _P_I64),
        ("an", ctypes.c_int64), ("acap", ctypes.c_int64),
        ("arena", _P_U8),
        ("wn", ctypes.c_int64), ("wcap", ctypes.c_int64),
        ("varena", _P_U8),
        ("kn", ctypes.c_int64), ("kcap", ctypes.c_int64),
        ("karena", _P_U8),
        ("keep_values", ctypes.c_int),
    ]


_lib = None
_lib_tried = False


def _compile() -> str | None:
    """Compile _cellwalk.c to a cached .so, keyed on the machine, the
    compiler version and the source hash, so a cache shared between hosts
    (an NFS home) never hands one platform's binary to another; returns
    the .so path or None when no compiler is available. Cluster posture:
    compiles once per host into a per-user cache; concurrent compiles
    race safely via atomic rename."""
    with open(_SRC, "rb") as f:
        src = f.read()
    try:
        cc = subprocess.run(
            ["gcc", "-dumpfullversion"], capture_output=True, timeout=30
        )
    except (OSError, subprocess.SubprocessError):
        return None
    if cc.returncode != 0:
        return None
    machine = platform.machine() or "unknown"
    digest = hashlib.md5(
        b"\0".join([machine.encode(), cc.stdout.strip(), src])
    ).hexdigest()[:16]
    cache_dir = os.path.join(
        os.environ.get("XDG_CACHE_HOME", os.path.expanduser("~/.cache")),
        "sstable-cellwalk",
    )
    so_path = os.path.join(cache_dir, f"cellwalk-{machine}-{digest}.so")
    if os.path.exists(so_path):
        return so_path
    os.makedirs(cache_dir, exist_ok=True)
    fd, tmp = tempfile.mkstemp(suffix=".so", dir=cache_dir)
    os.close(fd)
    try:
        proc = subprocess.run(
            ["gcc", "-O2", "-fPIC", "-shared", "-o", tmp, _SRC],
            capture_output=True, timeout=120,
        )
        if proc.returncode != 0:
            return None
        os.replace(tmp, so_path)  # atomic; racing compiles converge
        return so_path
    except (OSError, subprocess.SubprocessError):
        return None
    finally:
        if os.path.exists(tmp):
            try:
                os.remove(tmp)
            except OSError:
                pass


def _load():
    global _lib, _lib_tried
    if _lib is not None or _lib_tried:
        return _lib
    _lib_tried = True
    if os.environ.get("SPARK_GRAFT_NO_CELLWALK"):
        return None
    so = _compile()
    if so is None:
        return None
    try:
        lib = ctypes.CDLL(so)
    except OSError:
        return None
    lib.cellwalk_new.restype = ctypes.POINTER(_Ctx)
    lib.cellwalk_new.argtypes = [ctypes.c_int]
    lib.cellwalk_free.restype = None
    lib.cellwalk_free.argtypes = [ctypes.POINTER(_Ctx)]
    lib.cellwalk_span.restype = ctypes.c_int
    lib.cellwalk_span.argtypes = [
        ctypes.POINTER(_Ctx), ctypes.c_char_p, _P_I64, _P_I64,
        ctypes.c_int32, ctypes.POINTER(_ColInfo), ctypes.c_int32,
        ctypes.c_int32, _P_I32, ctypes.c_int32, ctypes.c_int64,
        ctypes.c_int64, ctypes.c_int64, ctypes.POINTER(_Err),
    ]
    _lib = lib
    return lib


def available() -> bool:
    return _load() is not None


class _NeedPython(Exception):
    """C kernel declined (OOM / ttl overflow): use the interpreted path."""


def _header_tables(h):
    """(ColInfo array, n_reg, n_sta, ct_fixed array, names, ctypes_list,
    path_types) derived once per header (cached on the header object,
    same freeze contract as data_cells._header_prep)."""
    tbl = getattr(h, "_cellwalk_tables", None)
    if tbl is None:
        from cassandra_sstable_tools_spark.sources.data_cells import (
            _header_prep,
        )

        prep = _header_prep(h)
        info = prep.reg_info + prep.sta_info
        cols = (_ColInfo * max(1, len(info)))()
        for i, (_name, _ctype, is_cplx, fixed, is_ctr, _pt) in enumerate(info):
            cols[i].fixed = -1 if fixed is None else int(fixed)
            cols[i].is_complex = 1 if is_cplx else 0
            cols[i].is_counter = 1 if is_ctr else 0
        n_ct = len(prep.ct_fixed)
        ctf = (ctypes.c_int32 * max(1, n_ct))()
        for i, f in enumerate(prep.ct_fixed):
            ctf[i] = -1 if f is None else int(f)
        tbl = (
            cols, len(prep.reg_info), len(prep.sta_info), ctf, n_ct,
            [e[0] for e in info],               # names
            [e[1] for e in info],               # marshal types
            [e[5] for e in info],               # cell-path display types
            prep.min_ts, prep.min_ldt, prep.min_ttl,
        )
        h._cellwalk_tables = tbl
    return tbl


def walk_spans(header, spans, source: str, keep_values: bool):
    """Run the C kernel over ``spans`` -- an iterable of
    ``(span_bytes, blocks)`` with ``blocks`` a list of (file_pos, rel_off,
    rel_end) -- and return the finalized numpy/bytes bundle.

    Raises ValueError with the interpreted kernel's exact message on
    decode errors, _NeedPython when the C kernel declines."""
    import numpy as np

    lib = _load()
    assert lib is not None, "walk_spans called without the kernel loaded"
    (cols, n_reg, n_sta, ctf, n_ct, names, marshals, path_types,
     min_ts, min_ldt, min_ttl) = _header_tables(header)

    ctx = lib.cellwalk_new(1 if keep_values else 0)
    if not ctx:
        raise _NeedPython
    try:
        err = _Err()
        for span_bytes, blocks in spans:
            nb = len(blocks)
            if nb == 0:
                continue
            offs = (ctypes.c_int64 * nb)(*[b[1] for b in blocks])
            ends = (ctypes.c_int64 * nb)(*[b[2] for b in blocks])
            rc = lib.cellwalk_span(
                ctx, span_bytes, offs, ends, nb, cols, n_reg, n_sta, ctf,
                n_ct, min_ts, min_ldt, min_ttl, ctypes.byref(err),
            )
            if rc != 0:
                if rc in (_E_OOM, _E_TTL_OVERFLOW):
                    raise _NeedPython
                base = blocks[err.block][0]
                msg = _ERR_FMT[rc].format(p0=err.p0, p1=err.p1)
                raise ValueError(
                    f"corrupt Data.db {source}: {msg} at byte "
                    f"{base + err.off}"
                )
        c = ctx.contents
        n = int(c.n)

        # ttl is the schema's one 32-bit column; corrupt data can decode
        # to a ttl outside int32 (loud later, at the Arrow marshal, in
        # BOTH kernels). Decline here so the caller re-runs the
        # interpreted path and the task fails with ITS exact error.
        if n:
            ttl_np = np.ctypeslib.as_array(c.ttl, shape=(n,))
            has_np = np.ctypeslib.as_array(c.has_ttl, shape=(n,))
            bad = (
                (ttl_np > 2147483647) | (ttl_np < -2147483648)
            ) & (has_np != 0)
            if bad.any():
                raise _NeedPython

        def arr(ptr, count, dtype):
            if count == 0:
                return np.empty(0, dtype=dtype)
            return np.ctypeslib.as_array(ptr, shape=(count,)).astype(
                dtype, copy=True
            )

        bundle = {
            "n": n,
            "kind": arr(c.kind, n, np.uint8),
            "col": arr(c.col, n, np.int32),
            "crow": arr(c.crow, n, np.int32),
            "srow": arr(c.srow, n, np.int32),
            "erow": arr(c.erow, n, np.int32),
            "wt": arr(c.wt, n, np.int64),
            "has_wt": arr(c.has_wt, n, bool),
            "ttl": arr(c.ttl, n, np.int64),
            "has_ttl": arr(c.has_ttl, n, bool),
            "ldt": arr(c.ldt, n, np.int64),
            "has_ldt": arr(c.has_ldt, n, bool),
            "flags": arr(c.flags, n, np.uint8),
            "cellv": arr(c.cellv, n, np.int64),
            "has_cellv": arr(c.has_cellv, n, bool),
            "phys": arr(c.phys, n, np.int64),
            "has_phys": arr(c.has_phys, n, bool),
            "vlen": arr(c.vlen, n, np.int64),
            "has_vlen": arr(c.has_vlen, n, bool),
            "path_off": arr(c.path_off, n, np.int64),
            "path_len": arr(c.path_len, n, np.int32),
            "val_off": arr(c.val_off, n, np.int64) if keep_values else None,
            "row_first": arr(c.row_first, int(c.rn), np.int64),
            "row_arity": arr(c.row_arity, int(c.rn), np.int32),
            "cv_off": arr(c.cv_off, int(c.vn), np.int64),
            "cv_len": arr(c.cv_len, int(c.vn), np.int32),
            "key_off": arr(c.key_off, int(c.bn), np.int64),
            "key_len": arr(c.key_len, int(c.bn), np.int32),
            "blk_nrec": arr(c.blk_nrec, int(c.bn), np.int64),
            "arena": ctypes.string_at(c.arena, int(c.an)) if c.an else b"",
            "varena": (
                ctypes.string_at(c.varena, int(c.wn)) if c.wn else b""
            ),
            "karena": (
                ctypes.string_at(c.karena, int(c.kn)) if c.kn else b""
            ),
            "names": names,
            "marshals": marshals,
            "path_types": path_types,
            "n_ct": n_ct,
        }
        return bundle
    finally:
        lib.cellwalk_free(ctx)


def assemble_batches(
    bundle, header, ks: str, tb: str, ss: str, cmarshal: str | None,
    keep_values: bool, chunk: int = 1 << 16,
) -> Iterator:
    """Bundle -> pyarrow RecordBatches in DATA_CELLS[_VALUES]_SCHEMA column
    order. String display goes through the SAME cached renderers the
    interpreted kernel uses, so output is byte-identical."""
    import numpy as np
    import pyarrow as pa

    from cassandra_sstable_tools_spark.sources.data_cells import (
        _display_cached,
        _display_clustering,
        _header_prep,
        _pa_cells_schema,
    )
    from cassandra_sstable_tools_spark.sources.sstable_binary import (
        render_typed,
    )

    n = bundle["n"]
    if n == 0:
        return
    prep = _header_prep(header)
    ct_list = prep.ct_list
    n_ct = bundle["n_ct"]
    arena = bundle["arena"]

    # --- rows table -> rendered clustering strings (one per row/bound) ---
    firsts = bundle["row_first"].tolist()
    aritys = bundle["row_arity"].tolist()
    cv_off = bundle["cv_off"].tolist()
    cv_len = bundle["cv_len"].tolist()
    row_strings: list[str | None] = []
    append = row_strings.append
    if n_ct <= 1:
        # arity is 0 or 1 everywhere: the _display fast path
        ct0 = ct_list[0] if n_ct == 1 else None
        disp = _display_cached
        for ri in range(len(firsts)):
            if aritys[ri] == 0:
                append(None)
            else:
                j = firsts[ri]
                ln = cv_len[j]
                if ln < 0:
                    append(None)
                else:
                    o = cv_off[j]
                    append(disp(arena[o : o + ln], ct0))
    else:
        for ri in range(len(firsts)):
            j = firsts[ri]
            vals = []
            for k in range(j, j + aritys[ri]):
                ln = cv_len[k]
                vals.append(
                    None if ln < 0 else arena[cv_off[k] : cv_off[k] + ln]
                )
            append(_display_clustering(vals, ct_list))

    # --- per-block partition keys, repeated per record ---
    from cassandra_sstable_tools_spark.sources.sstable_binary import (
        uses_default_key_render,
    )

    karena = bundle["karena"]
    key_len = bundle["key_len"]
    bn = len(key_len)
    ka = np.frombuffer(karena, dtype=np.uint8)
    pk_col_src = None
    if uses_default_key_render(header.key_type) and (
        len(ka) == 0 or bool(((ka >= 0x20) & (ka <= 0x7E)).all())
    ):
        # every key byte is printable ASCII: render_key is exactly the
        # ascii decode (valid UTF-8, and the control-char classes
        # [\x00-\x1f\x7f-\x9f] need a byte outside [0x20,0x7e]) -- build
        # the string column straight off the contiguous key arena, no
        # per-key Python at all
        koffs = np.zeros(bn + 1, dtype=np.int32)
        np.cumsum(key_len, out=koffs[1:])
        pk_col_src = pa.Array.from_buffers(
            pa.utf8(), bn,
            [None, pa.py_buffer(koffs.tobytes()), pa.py_buffer(karena)],
        )
    else:
        key_off = bundle["key_off"].tolist()
        pk_col_src = pa.array(
            [
                render_typed(karena[o : o + ln], header.key_type)
                for o, ln in zip(key_off, key_len.tolist())
            ],
            type=pa.string(),
        )
    blk_idx = np.repeat(np.arange(bn, dtype=np.int64), bundle["blk_nrec"])

    # --- cell paths (only complex cells carry one) ---
    path_len = bundle["path_len"]
    path_col: list[str | None] = [None] * n
    pidx = np.nonzero(path_len >= 0)[0]
    if len(pidx):
        p_off = bundle["path_off"]
        col_np = bundle["col"]
        ptypes = bundle["path_types"]
        for i in pidx.tolist():
            o = p_off[i]
            ln = path_len[i]
            path_col[i] = _display_cached(
                arena[o : o + ln], ptypes[col_np[i]]
            )

    def take_str(strings, idx_np):
        src = pa.array(strings, type=pa.string())
        idx = pa.array(idx_np, mask=(idx_np < 0))
        return src.take(idx)

    flags = bundle["flags"]
    rows_arr = pa.array(row_strings, type=pa.string())
    kind_arr = pa.array(_KINDS, type=pa.string())
    name_arr = pa.array(bundle["names"], type=pa.string())
    const = {
        "keyspace": ks, "table_name": tb, "sstable_id": ss,
    }

    def const_col(v, count):
        return pa.array([v], type=pa.string()).take(
            np.zeros(count, dtype=np.int32)
        )

    cols = {
        "kind": kind_arr.take(pa.array(bundle["kind"].astype(np.int32))),
        "clustering": rows_arr.take(
            pa.array(bundle["crow"], mask=(bundle["crow"] < 0))
        ),
        "column_name": take_str(bundle["names"], bundle["col"]),
        "cell_path": pa.array(path_col, type=pa.string()),
        "writetime": pa.array(bundle["wt"], mask=~bundle["has_wt"]),
        "ttl": pa.array(bundle["ttl"], mask=~bundle["has_ttl"]).cast(
            pa.int32()
        ),
        "local_deletion_time": pa.array(
            bundle["ldt"], mask=~bundle["has_ldt"]
        ),
        "is_tombstone": pa.array((flags & 1) != 0),
        "is_expiring": pa.array((flags & 2) != 0),
        "is_counter": pa.array((flags & 4) != 0),
        "cell_value": pa.array(bundle["cellv"], mask=~bundle["has_cellv"]),
        "range_start": rows_arr.take(
            pa.array(bundle["srow"], mask=(bundle["srow"] < 0))
        ),
        "range_end": rows_arr.take(
            pa.array(bundle["erow"], mask=(bundle["erow"] < 0))
        ),
        "phys_size": pa.array(bundle["phys"], mask=~bundle["has_phys"]),
        "value_len": pa.array(bundle["vlen"], mask=~bundle["has_vlen"]),
        "partition_key": pk_col_src.take(pa.array(blk_idx)),
    }
    del name_arr  # used via take_str already

    if keep_values:
        val_off = bundle["val_off"]
        has_val = val_off >= 0
        lengths = np.where(
            has_val, np.where(bundle["has_vlen"], bundle["vlen"], 0), 0
        ).astype(np.int32)
        offsets = np.zeros(n + 1, dtype=np.int32)
        np.cumsum(lengths, out=offsets[1:])
        validity = np.packbits(has_val, bitorder="little")
        cols["value_bytes"] = pa.Array.from_buffers(
            pa.binary(), n,
            [
                pa.py_buffer(validity.tobytes()),
                pa.py_buffer(offsets.tobytes()),
                pa.py_buffer(bundle["varena"]),
            ],
        )
        cols["value_marshal"] = take_str(bundle["marshals"], bundle["col"])
        cols["clustering_marshal"] = (
            const_col(cmarshal, n) if cmarshal is not None
            else pa.nulls(n, type=pa.string())
        )

    schema = _pa_cells_schema(keep_values)
    ordered = []
    for f in schema:
        if f.name in const:
            ordered.append(const_col(const[f.name], n))
        else:
            ordered.append(cols[f.name])
    for lo in range(0, n, chunk):
        hi = min(n, lo + chunk)
        yield pa.RecordBatch.from_arrays(
            [a.slice(lo, hi - lo) for a in ordered], schema=schema
        )
