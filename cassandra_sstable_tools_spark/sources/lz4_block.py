"""Pure-Python chunk codecs (LZ4 BLOCK, Deflate, Snappy) + Cassandra framing.

Compression is on by default in real clusters, so every point-read path
(partition headers, cell streams, digest-adjacent verification) must reach
through the CompressionInfo.db chunk map and a block decode; the
container has no lz4 wheel, and the formats are public (the LZ4 block spec,
RFC 1950/1951 deflate, google/snappy's format_description.txt, and Apache
Cassandra's ``LZ4Compressor`` / ``DeflateCompressor`` / ``SnappyCompressor``
/ ``CompressedSequentialWriter`` framing), so they live here in stdlib
Python. The chunk layer dispatches on the compressor class name
CompressionInfo.db records (``check_compressor``): LZ4, Deflate and Snappy
decode; Zstd refuses loudly BY NAME at open time.

LZ4 block format (spec-complete decoder):

    repeated sequences:
      token byte: high nibble = literal count (15 => extension bytes,
                  each 255 adds 255, first non-255 terminates),
                  low nibble = match length - 4 (15 => same extension)
      <literals>
      match offset: 2 bytes LITTLE-endian (absent in the final sequence)
      match copies may OVERLAP the output tail (offset < length) -- the
      RLE trick; the copy loop must be byte-wise semantics
    the final sequence is literals-only.

Cassandra chunk framing (``LZ4Compressor.compress`` +
``CompressedSequentialWriter``):

    on-disk chunk  = [4-byte LITTLE-endian decompressed length]
                     [LZ4 block bytes]
                     [4-byte BIG-endian CRC32 of the preceding bytes]
    chunk boundaries come from CompressionInfo.db's offset array; chunk i
    occupies [offsets[i], offsets[i+1]) (the last chunk ends at
    ``compressed_file_length``), each including its 4-byte checksum.
    Formats >= "na" store a chunk RAW (no length header, no LZ4) when
    compression failed to get under ``maxCompressedLength``; the reader
    detects that case by the on-disk chunk size.

The fixture-side compressor emits literal runs for non-zero islands and
(offset=1) overlap matches for zero runs -- deterministic, valid LZ4 that
any spec decoder (including the real lz4 library) can decompress; it is
NOT a general-purpose compressor and refuses nothing (worst case it
expands by the token overhead).
"""

from __future__ import annotations

import re
import struct
import zlib

try:
    # C-speed LZ4 raw-block codec: ships inside pyarrow, which the engine
    # already requires for every Arrow-batched path (no new dependency).
    # Used ONLY as a fast path over exact-extent chunks -- the pure
    # decoder below remains the arbiter for any chunk the codec rejects
    # (trailing padding, raw-stored, corrupt), so observable behavior,
    # including every error message, is unchanged. A block both decoders
    # accept decodes identically by the LZ4 spec (decoding is
    # deterministic); the CRC over the full compressed extent then pins
    # that the fast path consumed exactly the bytes the pure path would.
    import pyarrow as _pa

    _LZ4_RAW = _pa.Codec("lz4_raw")
except Exception:  # pragma: no cover -- environments without pyarrow
    _LZ4_RAW = None

# Cassandra's LZ4Compressor prepends the decompressed length, little-endian
_LEN_HEADER = 4
_CHECKSUM = 4
# a match copies at least 4 bytes (the LZ4 "minmatch")
_MIN_MATCH = 4

# Compressor dispatch (CompressionInfo.db stores the ICompressor class
# simple name; reference semantics: cassandra-all's CompressionParams
# registry, transparent to every command). LZ4 is the cluster default.
# Deflate is java.util.zip -- `new Deflater()` / `new Inflater()` with
# nowrap=false, i.e. a ZLIB-wrapped (RFC 1950) stream, exactly Python
# zlib's default framing, and UNLIKE LZ4 it carries no 4-byte decompressed-
# length prefix (that header is LZ4Compressor's own, not the chunk
# writer's). Snappy is the PUBLIC raw block format (google/snappy
# format_description.txt: LE-base-128 uncompressed-length preamble, then
# literal/copy tagged elements) -- what org.xerial's Snappy.rawCompress
# emits -- decoded spec-complete below like LZ4. Zstd would need the full
# FSE/Huffman entropy machinery; re-implementing THAT from scratch risks
# exactly the silent misparse this repo's doctrine forbids, so it refuses
# BY NAME: a Zstd tree reads "unsupported compressor ZstdCompressor",
# never a misleading "corrupt LZ4 block".
LZ4 = "LZ4Compressor"
DEFLATE = "DeflateCompressor"
SNAPPY = "SnappyCompressor"
SUPPORTED_COMPRESSORS = (LZ4, DEFLATE, SNAPPY)


def check_compressor(name: str, source: str = "<bytes>") -> str:
    """Validate a CompressionInfo.db compressor name at OPEN time (before
    any chunk is touched) -> the name; loud named ValueError otherwise."""
    if name not in SUPPORTED_COMPRESSORS:
        raise ValueError(
            f"unsupported compressor {name!r} in {source}: this engine "
            f"decodes {', '.join(SUPPORTED_COMPRESSORS)}; the Zstd "
            "chunk codec is not implemented"
        )
    return name


def lz4_decompress(src: bytes, expected_len: int, source: str = "<bytes>") -> bytes:
    """Spec-complete LZ4 block decode -> exactly ``expected_len`` bytes;
    loud ValueError (naming the source) on any structural violation."""
    out, consumed = lz4_decompress_consumed(src, expected_len, source)
    if consumed != len(src):
        raise ValueError(
            f"corrupt LZ4 block {source}: {len(src) - consumed} trailing "
            "bytes after the final sequence"
        )
    return out


def lz4_decompress_consumed(
    src: bytes, expected_len: int, source: str = "<bytes>"
) -> tuple[bytes, int]:
    """LZ4 block decode that STOPS once ``expected_len`` bytes are
    produced -> (bytes, consumed source length). The tolerant entry point
    for readers whose chunk extent may include trailing non-chunk bytes
    (the last chunk of a length-padded fixture file); ``lz4_decompress``
    wraps it with a no-trailing-bytes check for exact-extent callers."""
    out = bytearray()
    i, n = 0, len(src)

    def err(msg: str) -> ValueError:
        return ValueError(f"corrupt LZ4 block {source}: {msg} at byte {i}")

    while i < n:
        token = src[i]
        i += 1
        lit_len = token >> 4
        if lit_len == 15:
            while True:
                if i >= n:
                    raise err("literal-length extension past end")
                b = src[i]
                i += 1
                lit_len += b
                if b != 255:
                    break
        if i + lit_len > n:
            raise err(f"literal run of {lit_len} past end")
        out += src[i : i + lit_len]
        i += lit_len
        if i == n:
            break  # final sequence: literals only
        if len(out) >= expected_len:
            break  # produced the block; remaining bytes are not ours
        if i + 2 > n:
            raise err("match offset past end")
        offset = src[i] | (src[i + 1] << 8)
        i += 2
        if offset == 0 or offset > len(out):
            raise err(f"match offset {offset} outside window of {len(out)}")
        match_len = (token & 0x0F) + _MIN_MATCH
        if token & 0x0F == 15:
            while True:
                if i >= n:
                    raise err("match-length extension past end")
                b = src[i]
                i += 1
                match_len += b
                if b != 255:
                    break
        # overlap-capable copy (offset < match_len is the RLE idiom):
        # byte-wise semantics == repeating the last `offset` bytes, so a
        # bulk pattern replication replaces the per-byte loop (the decode
        # hot path -- fixture zero runs are 64 KiB offset-1 matches)
        pos = len(out) - offset
        pattern = bytes(out[pos:])
        reps = (match_len + offset - 1) // offset
        out += (pattern * reps)[:match_len]
        if len(out) >= expected_len:
            break  # produced the block; remaining bytes are not ours
    if len(out) != expected_len:
        raise ValueError(
            f"corrupt LZ4 block {source}: decompressed to {len(out)} bytes, "
            f"expected {expected_len}"
        )
    return bytes(out), i


def _emit_sequence(out: bytearray, literals: bytes, match_len: int) -> None:
    """One LZ4 sequence: the literals, then a zero-run match of
    ``match_len`` bytes via an offset-1 overlap copy (0 = final sequence,
    literals only)."""
    lit_len = len(literals)
    lit_nib = min(lit_len, 15)
    if match_len:
        m = match_len - _MIN_MATCH
        tok_m = min(m, 15)
    else:
        tok_m = 0
    out.append((lit_nib << 4) | tok_m)
    if lit_nib == 15:
        rest = lit_len - 15
        while rest >= 255:
            out.append(255)
            rest -= 255
        out.append(rest)
    out += literals
    if match_len:
        out += b"\x01\x00"  # offset 1: repeat the previous byte
        if tok_m == 15:
            rest = match_len - _MIN_MATCH - 15
            while rest >= 255:
                out.append(255)
                rest -= 255
            out.append(rest)


_ZERO_RUN = re.compile(rb"\x00{5,}")


def lz4_compress_fixture(data: bytes) -> bytes:
    """Deterministic valid-LZ4 encoder for fixture chunks: zero runs become
    offset-1 matches, everything else is literals. The LAST sequence is
    literals-only per spec (a trailing zero run keeps its final 5+ bytes
    as literals; spec also forbids matches starting within the last 12
    bytes, so runs near the end are literal-ized). Run detection is a
    C-speed regex scan -- a byte-at-a-time Python loop over every 64 KiB
    chunk of a multi-GB fixture image would dominate fixture builds."""
    out = bytearray()
    n = len(data)
    lit_start = 0
    for m in _ZERO_RUN.finditer(data):
        i = m.start()
        # a match needs a previous byte to copy (offset 1) and may not
        # start within the last 12 bytes of the block
        if i == 0 or i + 1 > n - 12:
            continue
        run_end = min(m.end(), n - 5)  # spec: last 5 bytes stay literals
        run = run_end - i
        if run >= _MIN_MATCH + 1:
            _emit_sequence(out, data[lit_start : i + 1], run - 1)
            lit_start = run_end
    _emit_sequence(out, data[lit_start:], 0)
    return bytes(out)


def encode_chunk(data: bytes, compressor: str = LZ4) -> bytes:
    """One Cassandra on-disk chunk, checksummed: LZ4 = LE length header +
    LZ4 block; Deflate = a zlib-wrapped stream (no length header, matching
    java.util.zip defaults); Snappy = a raw snappy block (its own varint
    length preamble). CRC32 covers the compressed body in every case."""
    if compressor == DEFLATE:
        body = zlib.compress(data)
    elif compressor == SNAPPY:
        body = snappy_compress_fixture(data)
    else:
        body = struct.pack("<i", len(data)) + lz4_compress_fixture(data)
    return body + struct.pack(">I", zlib.crc32(body) & 0xFFFFFFFF)


def snappy_decompress_consumed(
    src: bytes, expected_len: int, source: str = "<bytes>"
) -> tuple[bytes, int]:
    """Spec-complete raw-Snappy block decode (google/snappy
    format_description.txt) from the head of ``src`` -> (exactly
    ``expected_len`` bytes, consumed source length); tolerant of trailing
    non-block bytes (the padded-last-chunk extent, same contract as the
    LZ4/deflate decoders). Format: LE-base-128 varint uncompressed length,
    then tagged elements -- tag&3: 0 literal (6-bit length-1, 60..63 add
    1..4 LE extension bytes), 1 copy len 4..11 / 11-bit offset (3 high
    bits in the tag, 1 trailing byte), 2 copy len 1..64 / LE16 offset,
    3 copy len 1..64 / LE32 offset. Copies may overlap the output tail
    (the RLE trick) -- byte-wise semantics."""
    out = bytearray()
    i, n = 0, len(src)

    def err(msg: str) -> ValueError:
        return ValueError(
            f"corrupt snappy block {source}: {msg} at byte {i}"
        )

    # uncompressed-length preamble (little-endian base 128, max 5 bytes)
    plen = 0
    shift = 0
    while True:
        if i >= n:
            raise err("truncated length preamble")
        b = src[i]
        i += 1
        plen |= (b & 0x7F) << shift
        if not b & 0x80:
            break
        shift += 7
        if shift > 31:
            raise err("length preamble exceeds 32 bits")
    if plen != expected_len:
        raise ValueError(
            f"corrupt snappy block {source}: preamble length {plen} != "
            f"expected {expected_len}"
        )
    while len(out) < expected_len:
        if i >= n:
            raise err(
                f"block ends at {len(out)}/{expected_len} output bytes"
            )
        tag = src[i]
        i += 1
        kind = tag & 3
        if kind == 0:  # literal
            l6 = tag >> 2
            if l6 < 60:
                length = l6 + 1
            else:
                nb = l6 - 59  # 1..4 extension bytes, little-endian
                if i + nb > n:
                    raise err("truncated literal length extension")
                length = int.from_bytes(src[i : i + nb], "little") + 1
                i += nb
            if i + length > n:
                raise err("literal runs past the block")
            out += src[i : i + length]
            i += length
        else:
            if kind == 1:
                length = ((tag >> 2) & 0x7) + 4
                if i >= n:
                    raise err("truncated copy offset")
                offset = ((tag >> 5) << 8) | src[i]
                i += 1
            elif kind == 2:
                length = (tag >> 2) + 1
                if i + 2 > n:
                    raise err("truncated copy offset")
                offset = int.from_bytes(src[i : i + 2], "little")
                i += 2
            else:
                length = (tag >> 2) + 1
                if i + 4 > n:
                    raise err("truncated copy offset")
                offset = int.from_bytes(src[i : i + 4], "little")
                i += 4
            if offset == 0:
                raise err("copy offset 0")
            if offset > len(out):
                raise err(
                    f"copy offset {offset} reaches before the output start"
                )
            if offset == 1:
                # single-byte RLE: snappy caps one copy at 64 bytes, so a
                # long run arrives as MANY consecutive offset-1 copies --
                # per-element Python overhead gates decode throughput
                # (measured 3x on zero-heavy chunks). Fuse the run: parse
                # ahead while the next element is another offset-1 copy,
                # then extend once. Semantics identical (every fused
                # element repeats the same last byte); the expected_len
                # guard stops fusing at the block's declared end so
                # overrun detection stays per-element-accurate.
                total = length
                while len(out) + total < expected_len and i < n:
                    t2 = src[i]
                    k2 = t2 & 3
                    if k2 == 1 and i + 2 <= n and (
                        ((t2 >> 5) << 8) | src[i + 1]
                    ) == 1:
                        total += ((t2 >> 2) & 0x7) + 4
                        i += 2
                    elif k2 == 2 and i + 3 <= n and (
                        src[i + 1] == 1 and src[i + 2] == 0
                    ):
                        total += (t2 >> 2) + 1
                        i += 3
                    elif k2 == 3 and i + 5 <= n and (
                        src[i + 1 : i + 5] == b"\x01\x00\x00\x00"
                    ):
                        total += (t2 >> 2) + 1
                        i += 5
                    else:
                        break
                out += out[-1:] * total
            elif offset >= length:
                start = len(out) - offset
                out += out[start : start + length]
            else:
                # overlapping copy == repeating the last `offset` bytes:
                # bulk pattern replication replaces the per-byte loop
                # (same optimization as the LZ4 decoder)
                pattern = bytes(out[len(out) - offset :])
                reps = (length + offset - 1) // offset
                out += (pattern * reps)[:length]
    if len(out) != expected_len:
        raise err(
            f"element overruns the declared length "
            f"({len(out)} > {expected_len})"
        )
    return bytes(out), i


def _snappy_emit_literal(out: bytearray, data: bytes) -> None:
    pos = 0
    while pos < len(data):
        span = data[pos : pos + (1 << 24)]  # 3 extension bytes is plenty
        ln = len(span) - 1
        if ln < 60:
            out.append(ln << 2)
        else:
            nb = (ln.bit_length() + 7) // 8
            out.append((59 + nb) << 2)
            out += ln.to_bytes(nb, "little")
        out += span
        pos += len(span)


def snappy_compress_fixture(data: bytes) -> bytes:
    """Deterministic valid-Snappy encoder for fixture chunks (the
    LZ4-fixture playbook): zero runs become offset-1 copies after a
    1-byte literal, everything else is literals. Any spec decoder can
    decompress the result; it is NOT a general-purpose matcher."""
    out = bytearray()
    n = len(data)
    # preamble: uncompressed length, LE base 128
    v = n
    while True:
        b = v & 0x7F
        v >>= 7
        if v:
            out.append(b | 0x80)
        else:
            out.append(b)
            break
    lit_start = 0
    for m in _ZERO_RUN.finditer(data):
        i = m.start()
        run = m.end() - i
        if run < _MIN_MATCH + 1:
            continue
        # the literal includes the run's FIRST byte, so the offset-1 copy
        # always has a previous byte to repeat (run-at-offset-0 included;
        # snappy has no LZ4-style end-of-block restrictions)
        _snappy_emit_literal(out, data[lit_start : i + 1])
        rest = run - 1
        while rest:
            take = min(rest, 64)
            if take >= 4 and take <= 11:
                out.append(0x01 | ((take - 4) << 2))  # copy1, offset 1
                out.append(1)
            else:
                out.append(0x02 | ((take - 1) << 2))  # copy2, offset 1
                out += (1).to_bytes(2, "little")
            rest -= take
        lit_start = m.end()
    if lit_start < n:
        _snappy_emit_literal(out, data[lit_start:])
    return bytes(out)


def _deflate_decompress_consumed(
    src: bytes, expected_len: int, source: str = "<bytes>"
) -> tuple[bytes, int]:
    """Decode one zlib-wrapped (RFC 1950) deflate stream from the head of
    ``src`` -> (exactly ``expected_len`` bytes, consumed source length);
    tolerant of trailing non-stream bytes (the padded-last-chunk extent,
    same contract as lz4_decompress_consumed)."""
    d = zlib.decompressobj()
    try:
        data = d.decompress(src, expected_len + 1)
    except zlib.error as e:
        raise ValueError(f"corrupt deflate chunk {source}: {e}") from None
    if len(data) > expected_len:
        raise ValueError(
            f"corrupt deflate chunk {source}: stream exceeds the expected "
            f"{expected_len} bytes"
        )
    if not d.eof:
        raise ValueError(
            f"corrupt deflate chunk {source}: stream ends before its "
            f"BFINAL block ({len(data)}/{expected_len} bytes out)"
        )
    if len(data) != expected_len:
        raise ValueError(
            f"corrupt deflate chunk {source}: {len(data)} bytes out, "
            f"expected {expected_len}"
        )
    return data, len(src) - len(d.unused_data)


def _verify_chunk_crc(raw: bytes, end: int, source: str) -> None:
    """The inline chunk checksum: CRC32 of the compressed body raw[:end],
    stored big-endian at raw[end:end+4]. ONE implementation for every
    codec branch of decode_chunk (review finding: the duplicated blocks
    could drift)."""
    if end + _CHECKSUM > len(raw):
        raise ValueError(
            f"corrupt chunk {source}: checksum past chunk extent"
        )
    stored = raw[end : end + _CHECKSUM]
    crc = zlib.crc32(raw[:end]) & 0xFFFFFFFF
    if struct.unpack(">I", stored)[0] != crc:
        raise ValueError(
            f"corrupt chunk {source}: checksum mismatch "
            f"(stored {stored.hex()}, computed {crc:08x})"
        )


def decode_chunk(
    raw: bytes,
    expected_len: int,
    max_compressed_length: int | None,
    source: str = "<bytes>",
    compressor: str = LZ4,
) -> bytes:
    """One on-disk chunk -> decompressed bytes. ``raw`` starts at the
    chunk's offset and may extend BEYOND its true end (the last chunk's
    extent comes from the file length, which a length-padded fixture file
    inflates); the decode finds the true end itself and verifies the CRC32
    at exactly that offset, so trailing bytes are ignored and corruption
    inside the chunk stays loud.

    Two layouts, tried in order:
    - compressed (dispatch on the CompressionInfo.db compressor name):
      LZ4 = [LE length header == expected_len][LZ4 producing exactly
      expected_len bytes][CRC32 of header+LZ4]; Deflate = [one zlib
      stream producing exactly expected_len bytes][CRC32 of it]; Snappy =
      [one raw snappy block, preamble == expected_len][CRC32 of it];
    - raw (formats >= "na" store an incompressible chunk uncompressed):
      [expected_len data bytes][CRC32 of them] -- only attempted when the
      compressed parse fails structurally, and only accepted when its own
      checksum verifies, so a false match is cryptographically unlikely."""
    check_compressor(compressor, source)
    comp_err: Exception | None = None
    if compressor in (DEFLATE, SNAPPY):
        decoder = (
            _deflate_decompress_consumed
            if compressor == DEFLATE
            else snappy_decompress_consumed
        )
        try:
            data, end = decoder(raw, expected_len, source=source)
            _verify_chunk_crc(raw, end, source)
            return data
        except ValueError as e:
            comp_err = e
    elif len(raw) >= _LEN_HEADER + _CHECKSUM:
        # Bound the work by the chunk's maximum VALID extent, not the
        # handed extent: a length-padded tail (fixture-inflated last
        # chunk -- measured 196 MB of padding behind a 60 KB chunk) must
        # not make the decode slice/scan padding-proportional bytes. Any
        # spec-valid LZ4 body producing expected_len bytes consumes at
        # most expected_len * 256/255 + 19 (literal-extension overhead;
        # match sequences consume fewer bytes than they produce), so
        # clamping at a 1/64 margin never cuts a valid chunk; both
        # decoders locate the true end inside the clamp exactly as they
        # would in the full buffer, and the raw-stored branch below keeps
        # the UNclamped buffer (its extent check is expected_len-exact).
        bound = _LEN_HEADER + expected_len + (expected_len >> 6) + 64 + _CHECKSUM
        lraw = raw if len(raw) <= bound else raw[:bound]
        (dlen,) = struct.unpack("<i", raw[:_LEN_HEADER])
        if dlen == expected_len:
            if _LZ4_RAW is not None and expected_len > 0:
                # fast path: assume the chunk extent is exact (every
                # chunk but a length-padded last one) -- the compressed
                # body is then raw[4:-4] and the CRC sits at the end.
                # Any mismatch (padding, raw-stored chunk, corruption)
                # falls through to the spec decoder, which makes the
                # call exactly as before.
                try:
                    body_end = len(lraw) - _CHECKSUM
                    data = _LZ4_RAW.decompress(
                        lraw[_LEN_HEADER:body_end], expected_len
                    ).to_pybytes()
                    _verify_chunk_crc(lraw, body_end, source)
                    return data
                except Exception:  # noqa: BLE001 -- pure decoder decides
                    pass
            try:
                data, consumed = lz4_decompress_consumed(
                    lraw[_LEN_HEADER:], expected_len, source=source
                )
                _verify_chunk_crc(lraw, _LEN_HEADER + consumed, source)
                return data
            except ValueError as e:
                comp_err = e
        else:
            comp_err = ValueError(
                f"corrupt chunk {source}: embedded length {dlen} != chunk "
                f"extent {expected_len}"
            )
    if (
        max_compressed_length is not None
        and expected_len >= max_compressed_length
        and len(raw) >= expected_len + _CHECKSUM
    ):
        body = raw[:expected_len]
        stored = raw[expected_len : expected_len + _CHECKSUM]
        crc = zlib.crc32(body) & 0xFFFFFFFF
        if struct.unpack(">I", stored)[0] == crc:
            return body
    raise comp_err or ValueError(
        f"corrupt chunk {source}: {len(raw)} bytes cannot hold the chunk"
    )


class CompressedRangeReader:
    """Random-access byte ranges over a chunk-compressed Data.db.

    Mirrors Cassandra's ``CompressedRandomAccessReader``: a logical
    (uncompressed) offset maps to chunk ``offset // chunkLength``; the
    chunk decodes whole, the range slices out of it. A one-chunk LRU
    keeps sequential partition reads from re-decoding the same chunk;
    memory bound = one chunk (64 KiB default) regardless of file size."""

    def __init__(
        self,
        fobj,
        file_length: int,
        chunk_length: int,
        data_length: int,
        offsets: list[int],
        max_compressed_length: int | None,
        source: str = "<file>",
        compressor: str = LZ4,
    ):
        if chunk_length <= 0:
            raise ValueError(f"corrupt chunk map {source}: chunkLength 0")
        self.f = fobj
        self.file_length = file_length
        self.chunk_length = chunk_length
        self.data_length = data_length
        self.offsets = offsets
        self.max_compressed_length = max_compressed_length
        self.source = source
        # refuse unimplemented codecs at OPEN, before any chunk read --
        # a Snappy/Zstd tree must fail naming the compressor, never with
        # a downstream "corrupt LZ4 block"
        self.compressor = check_compressor(compressor, source)
        self._cache: tuple[int, bytes] | None = None

    def _chunk(self, ci: int) -> bytes:
        if self._cache is not None and self._cache[0] == ci:
            return self._cache[1]
        if ci >= len(self.offsets):
            raise ValueError(
                f"corrupt chunk map {self.source}: chunk {ci} beyond "
                f"{len(self.offsets)} chunks"
            )
        start = self.offsets[ci]
        end = (
            self.offsets[ci + 1]
            if ci + 1 < len(self.offsets)
            else self.file_length
        )
        expected = min(
            self.chunk_length, self.data_length - ci * self.chunk_length
        )
        read_len = end - start
        if self.compressor == LZ4:
            # a length-padded extent (fixture-inflated last chunk) must
            # not cost a padding-sized file read: clamp to the same
            # maximum-valid-extent bound decode_chunk applies (its
            # docstring derivation) -- never cuts a valid chunk, and the
            # decoders locate the true end inside the clamp either way
            bound = (
                _LEN_HEADER + expected + (expected >> 6) + 64 + _CHECKSUM
            )
            # the raw-stored layout needs expected + _CHECKSUM; bound
            # exceeds that by construction
            read_len = min(read_len, bound)
        self.f.seek(start)
        raw = self.f.read(read_len)
        if len(raw) != read_len:
            raise ValueError(
                f"corrupt Data.db {self.source}: chunk {ci} truncated"
            )
        data = decode_chunk(
            raw, expected, self.max_compressed_length,
            source=f"{self.source}#chunk{ci}",
            compressor=self.compressor,
        )
        self._cache = (ci, data)
        return data

    def read(self, start: int, length: int) -> bytes:
        """Uncompressed byte range [start, start+length); short reads at
        data end return fewer bytes (like a plain file read)."""
        if start >= self.data_length or length <= 0:
            return b""
        length = min(length, self.data_length - start)
        parts: list[bytes] = []
        ci = start // self.chunk_length
        pos = start
        remaining = length
        while remaining > 0:
            chunk = self._chunk(ci)
            lo = pos - ci * self.chunk_length
            take = min(len(chunk) - lo, remaining)
            if take <= 0:
                raise ValueError(
                    f"corrupt Data.db {self.source}: chunk {ci} shorter "
                    "than the chunk map promises"
                )
            # whole-chunk spans (the span-batched scan's common case)
            # append the cached chunk itself -- join copies once, instead
            # of the old slice-then-bytearray-append double copy
            parts.append(
                chunk if lo == 0 and take == len(chunk)
                else chunk[lo : lo + take]
            )
            pos += take
            remaining -= take
            ci += 1
        return parts[0] if len(parts) == 1 else b"".join(parts)


def write_chunked_file(
    data_blocks: list[tuple[int, bytes]],
    data_length: int,
    chunk_length: int,
    out_fobj,
    max_compressed_length: int | None = None,
    compressor: str = LZ4,
) -> list[int]:
    """Fixture writer: materialize a chunk-compressed Data.db whose
    UNCOMPRESSED image is ``data_length`` zero bytes overlaid with
    ``data_blocks`` ([(offset, bytes)], sorted, non-overlapping). Chunks
    are generated lazily (one chunk buffer in memory, never the whole
    image -- the image can be GBs while its interesting bytes are KBs)
    and every chunk is compressed with ``compressor`` (LZ4 default,
    Deflate for planting DeflateCompressor trees); returns the chunk
    offsets for CompressionInfo.db."""
    check_compressor(compressor)
    blocks = sorted(data_blocks)
    offsets: list[int] = []
    pos = 0
    bi = 0
    n_chunks = (data_length + chunk_length - 1) // chunk_length
    for ci in range(n_chunks):
        lo = ci * chunk_length
        size = min(chunk_length, data_length - lo)
        buf = bytearray(size)
        while bi < len(blocks) and blocks[bi][0] < lo + size:
            boff, bdata = blocks[bi]
            if boff + len(bdata) <= lo:
                bi += 1
                continue
            s = max(boff, lo)
            e = min(boff + len(bdata), lo + size)
            buf[s - lo : e - lo] = bdata[s - boff : e - boff]
            if boff + len(bdata) <= lo + size:
                bi += 1
            else:
                break  # block spills into the next chunk
        chunk = encode_chunk(bytes(buf), compressor=compressor)
        if (
            max_compressed_length is not None
            and len(chunk) - _CHECKSUM >= max_compressed_length
        ):
            # incompressible chunk: store RAW like Cassandra's >= "na"
            # writer. The reader detects raw by body size reaching
            # maxCompressedLength, so only FULL chunks can be stored raw
            # unambiguously; an incompressible PARTIAL chunk would decode
            # down the wrong path -- refuse loudly (the sparse fixture
            # never produces one; a general writer would need the real
            # lz4 matcher to shrink it under the bound instead).
            if size < max_compressed_length:
                raise ValueError(
                    f"incompressible partial chunk {ci} ({size} bytes) "
                    "cannot be stored unambiguously"
                )
            body = bytes(buf)
            chunk = body + struct.pack(
                ">I", zlib.crc32(body) & 0xFFFFFFFF
            )
        offsets.append(pos)
        out_fobj.seek(pos)
        out_fobj.write(chunk)
        pos += len(chunk)
    return offsets


class _RangeFile:
    """seek/read file facade over a CompressedRangeReader, so point-read
    code paths (partition headers, block decodes) run unchanged on
    compressed and uncompressed Data.db files."""

    def __init__(self, reader: CompressedRangeReader):
        self.reader = reader
        self.pos = 0

    def seek(self, pos: int) -> None:
        self.pos = pos

    def read(self, n: int) -> bytes:
        b = self.reader.read(self.pos, n)
        self.pos += len(b)
        return b

    def close(self) -> None:
        self.reader.f.close()


def open_data_file(data_path: str, comp_path: str | None, version: str):
    """Open a Data.db by path for logical (uncompressed-offset) point
    reads: plain file when no CompressionInfo.db sibling exists
    (``comp_path`` None or absent), else a chunk-decoding facade. Returns
    (file-like, logical data length)."""
    import os

    comp = None
    if comp_path is not None and os.path.exists(comp_path):
        with open(comp_path, "rb") as cf:
            comp = cf.read()
    return _logical_data(
        open(data_path, "rb"), os.path.getsize(data_path), comp, version,
        data_path, comp_path,
    )


def open_sstable_data(sst):
    """``open_data_file`` through an ``inventory.SSTable`` handle: the
    components open through its filesystem, the Data.db length comes from
    its listing."""
    comp = None
    if "CompressionInfo.db" in sst.components:
        with sst.open("CompressionInfo.db") as cf:
            comp = cf.read()
    return _logical_data(
        sst.open("Data.db"), sst.length("Data.db"), comp, sst.version,
        sst.path("Data.db"), sst.path("CompressionInfo.db"),
    )


def _logical_data(f, size: int, comp: bytes | None, version: str,
                  source: str, comp_source: str):
    """(file-like, logical length) over the open Data.db ``f`` of ``size``
    bytes, given its CompressionInfo.db bytes (None: uncompressed)."""
    from cassandra_sstable_tools_spark.sources.sstable_binary import (
        parse_compression_info_full,
    )

    if comp is None:
        return f, size
    try:
        chunk_len, data_len, max_comp, offsets, compressor = (
            parse_compression_info_full(
                comp, version=version, source=comp_source
            )
        )
        reader = CompressedRangeReader(
            f, size, chunk_len, data_len, offsets,
            max_comp, source=source, compressor=compressor,
        )
    except Exception:
        f.close()
        raise
    return _RangeFile(reader), data_len
