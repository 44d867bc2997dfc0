"""Multimodal column plumbing: opaque binary payloads + typed metadata.

Image/audio/video decode libraries are not available in this container, so
the *decode kernels are stubs* (clearly marked), but everything Spark-side is
real and tested: binary columns, Arrow-batched `mapInPandas` with an explicit
output schema, deterministic fake feature extraction, and frame-sampling
row explosion. Swapping the stub for PIL/ffmpeg changes only the kernel body
-- schema, partitioning and batch shape are production-shaped.

At 100 TB: payloads stay columnar-binary end to end; `mapInPandas` streams
Arrow batches (no per-row Python), and feature extraction is a pure map --
no shuffle at all until a downstream aggregation.
"""

from __future__ import annotations

import zlib
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cassandra_sstable_tools_spark.sources.tpch_adapter import load_table

MEDIA_SCHEMA = (
    "doc_id long, n_bytes long, media_kind string, width int, height int, "
    "checksum_prefix string"
)

_HEX = "0123456789abcdef"


def real_decode(payload: bytes) -> dict:
    """The real decode kernel over actual encoded image bytes.

    Prefers Pillow when importable; otherwise falls back to the pure-stdlib
    decoder below: FULL pixel decode for PNG (zlib inflate + per-scanline
    unfilter -- all five filter types), header metadata for JPEG/GIF/BMP
    (real marker/descriptor parsing; pixel decode of DCT formats genuinely
    needs a codec lib).  Returns the same dict shape as ``fake_decode`` so
    the mapInPandas kernels are drop-in swappable:
      width/height      -- from the real encoded header
      checksum_prefix   -- md5 of the DECODED pixel bytes when pixels were
                           reconstructed (PNG / PIL), else of the payload
      mode              -- 'L'/'RGB'/'RGBA'/'P'/'LA' (PNG), format tag else
      pixels_decoded    -- whether checksum_prefix covers real pixels
    Raises ValueError for bytes that are not a recognized image format --
    callers routing mixed media route audio/video elsewhere first."""
    import hashlib

    try:
        from PIL import Image  # noqa: PLC0415 -- optional accelerator
        import io

        img = Image.open(io.BytesIO(payload))
        px = img.tobytes()
        return {
            "width": img.width,
            "height": img.height,
            "mode": img.mode,
            "checksum_prefix": hashlib.md5(px).hexdigest()[:8],
            "pixels_decoded": True,
        }
    except ImportError:
        pass
    except Exception:  # noqa: BLE001 -- PIL raises UnidentifiedImageError /
        # OSError on unrecognized or truncated bytes; fall through to the
        # stdlib sniffers so the documented ValueError contract holds with
        # or without Pillow installed.
        pass

    if payload[:8] == b"\x89PNG\r\n\x1a\n":
        try:
            w, h, mode, px = _png_decode(payload)
        except ValueError:
            raise
        except Exception as exc:  # zlib.error / reshape on truncated bytes
            raise ValueError(f"corrupt PNG: {exc}") from exc
        return {
            "width": w,
            "height": h,
            "mode": mode,
            "checksum_prefix": hashlib.md5(px.tobytes()).hexdigest()[:8],
            "pixels_decoded": True,
        }
    for sniff in (_jpeg_header, _gif_header, _bmp_header):
        meta = sniff(payload)
        if meta is not None:
            meta["checksum_prefix"] = hashlib.md5(payload).hexdigest()[:8]
            meta["pixels_decoded"] = False
            return meta
    raise ValueError("unrecognized image payload (not PNG/JPEG/GIF/BMP)")


_PNG_MODES = {0: "L", 2: "RGB", 3: "P", 4: "LA", 6: "RGBA"}
_PNG_CHANNELS = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}


def _png_decode(data: bytes):
    """Pure-stdlib PNG decode: chunk walk, zlib inflate, scanline unfilter
    (spec filters 0 None / 1 Sub / 2 Up / 3 Average / 4 Paeth). Supports
    8-bit non-interlaced images, every color type. Returns
    (width, height, mode, HxW*C uint8 ndarray of raw channel bytes --
    palette images return index bytes, mode 'P')."""
    import struct

    import numpy as np

    pos, idat, hdr = 8, [], None
    while pos + 8 <= len(data):
        (length,) = struct.unpack(">I", data[pos:pos + 4])
        ctype = data[pos + 4:pos + 8]
        chunk = data[pos + 8:pos + 8 + length]
        pos += 12 + length
        if ctype == b"IHDR":
            hdr = struct.unpack(">IIBBBBB", chunk)
        elif ctype == b"IDAT":
            idat.append(chunk)
        elif ctype == b"IEND":
            break
    if hdr is None:
        raise ValueError("PNG missing IHDR")
    w, h, depth, color, _comp, _filt, interlace = hdr
    if depth != 8 or interlace != 0:
        raise ValueError(f"unsupported PNG (depth={depth}, interlace={interlace})")
    ch = _PNG_CHANNELS[color]
    raw = np.frombuffer(zlib.decompress(b"".join(idat)), np.uint8)
    stride = w * ch
    raw = raw.reshape(h, stride + 1)  # leading filter byte per scanline
    out = np.zeros((h, stride), np.uint16)  # u16 headroom for filter sums
    prev = np.zeros(stride, np.uint16)
    for y in range(h):
        ftype, row = raw[y, 0], raw[y, 1:].astype(np.uint16)
        if ftype == 0:
            cur = row
        elif ftype == 2:  # Up: fully vectorized
            cur = (row + prev) & 0xFF
        else:  # Sub/Average/Paeth carry left-neighbor state within the row
            cur = np.zeros(stride, np.uint16)
            for x in range(stride):
                a = cur[x - ch] if x >= ch else 0  # left (same channel)
                b = prev[x]                        # up
                if ftype == 1:
                    val = row[x] + a
                elif ftype == 3:
                    val = row[x] + ((a + b) >> 1)
                elif ftype == 4:
                    c = prev[x - ch] if x >= ch else 0  # upper-left
                    p = int(a) + int(b) - int(c)
                    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                    pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                    val = row[x] + pred
                else:
                    raise ValueError(f"bad PNG filter {ftype}")
                cur[x] = val & 0xFF
        out[y] = cur
        prev = cur
    return w, h, _PNG_MODES[color], out.astype(np.uint8)


def _jpeg_header(data: bytes):
    """JPEG marker walk to the SOF segment (C0-C3, C5-C7, C9-CB, CD-CF)."""
    import struct

    if data[:2] != b"\xff\xd8":
        return None
    pos = 2
    while pos + 4 <= len(data):
        if data[pos] != 0xFF:
            pos += 1
            continue
        marker = data[pos + 1]
        if marker in (0xD8, 0x01) or 0xD0 <= marker <= 0xD7:
            pos += 2
            continue
        (seglen,) = struct.unpack(">H", data[pos + 2:pos + 4])
        if 0xC0 <= marker <= 0xCF and marker not in (0xC4, 0xC8, 0xCC):
            _prec, hgt, wid, ncomp = struct.unpack(
                ">BHHB", data[pos + 4:pos + 10]
            )
            return {"width": wid, "height": hgt,
                    "mode": {1: "L", 3: "RGB", 4: "CMYK"}.get(ncomp, "?")}
        pos += 2 + seglen
    return None


def _gif_header(data: bytes):
    import struct

    if data[:6] not in (b"GIF87a", b"GIF89a"):
        return None
    w, h = struct.unpack("<HH", data[6:10])
    return {"width": w, "height": h, "mode": "P"}


def _bmp_header(data: bytes):
    import struct

    if data[:2] != b"BM" or len(data) < 26:
        return None
    w, h = struct.unpack("<ii", data[18:26])
    return {"width": w, "height": abs(h), "mode": "RGB"}


def fake_decode(payload: bytes) -> dict:
    """Deterministic fake 'decode': dimensions derived from content hash."""
    import hashlib

    h = hashlib.md5(payload).hexdigest()
    return {
        "width": 64 + (_HEX.index(h[0]) + 1) * 16,
        "height": 64 + (_HEX.index(h[1]) + 1) * 16,
        "checksum_prefix": h[:8],
    }


def media_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-payload table synthesized from documents (utf-8 payloads stand
    in for image bytes; schema matches a real media lake: id + binary + kind)."""
    # A media-lake row without bytes is not a media row: NULL text (the
    # payload source here) is dropped at the source, the same contract a
    # real ingest enforces -- downstream Arrow kernels (md5, len) operate
    # on bytes, not Optional[bytes]. No-op on the fixtures (no NULLs).
    d = load_table(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    return d.select(
        "doc_id",
        F.encode("text", "utf-8").alias("payload"),
        F.when(F.col("doc_id") % 3 == 0, "image")
        .when(F.col("doc_id") % 3 == 1, "audio")
        .otherwise("video")
        .alias("media_kind"),
    )


def media_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-batched metadata extraction over binary payloads (mapInPandas).

    The registered query decodes with ``fake_decode`` because the fixture's
    payloads are utf-8 text, not encoded images -- that keeps the DuckDB
    oracle exact. ``media_metadata_over(media, real_decode)`` is the same
    plan over real bytes (tests/test_multimodal_real.py drives it with
    planted PNG/JPEG/GIF/BMP payloads)."""
    return media_metadata_over(media_table(spark, sf_dir), fake_decode)


def media_metadata_over(media: DataFrame, decode) -> DataFrame:
    """The mapInPandas metadata plan over any (doc_id, payload, media_kind)
    frame with a swappable decode kernel (fake_decode | real_decode)."""

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            decoded = [decode(p) for p in pdf["payload"]]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "n_bytes": [len(p) for p in pdf["payload"]],
                    "media_kind": pdf["media_kind"],
                    "width": [d["width"] for d in decoded],
                    "height": [d["height"] for d in decoded],
                    "checksum_prefix": [d["checksum_prefix"] for d in decoded],
                }
            )

    return media.mapInPandas(extract, schema=MEDIA_SCHEMA)


MEDIA_SAFE_SCHEMA = MEDIA_SCHEMA + ", decode_error string"


def media_metadata_safe(media: DataFrame, decode) -> DataFrame:
    """``media_metadata_over`` with per-row error QUARANTINE: a payload the
    kernel cannot decode becomes a row with null dimensions and the error
    message in ``decode_error`` instead of a failed Spark task.

    This is the jsonl corrupt-record philosophy applied to binary media:
    at 100 TB a crawl WILL contain truncated files, wrong-extension bytes
    and exotic subformats, and one bad payload must not kill a
    1000-executor stage -- bad rows become data (countable, quarantinable
    with one predicate) while good rows flow through unchanged."""

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = {"width": [], "height": [], "checksum_prefix": [],
                    "decode_error": []}
            for p in pdf["payload"]:
                try:
                    d = decode(p)
                    rows["width"].append(d["width"])
                    rows["height"].append(d["height"])
                    rows["checksum_prefix"].append(d["checksum_prefix"])
                    rows["decode_error"].append(None)
                except Exception as exc:  # noqa: BLE001 -- quarantine, don't kill the stage
                    rows["width"].append(None)
                    rows["height"].append(None)
                    rows["checksum_prefix"].append(None)
                    rows["decode_error"].append(f"{type(exc).__name__}: {exc}"[:200])
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "n_bytes": [len(p) for p in pdf["payload"]],
                    "media_kind": pdf["media_kind"],
                    **rows,
                }
            )

    return media.mapInPandas(extract, schema=MEDIA_SAFE_SCHEMA)


def frame_sample(spark: SparkSession, sf_dir: str, every_n_bytes: int = 100) -> DataFrame:
    """Frame sampling: explode each payload into deterministic 'frames'
    (one per `every_n_bytes` of content) -- the row-explosion shape a video
    pipeline needs, without a real codec."""
    media = media_table(spark, sf_dir).where(F.col("media_kind") == "video")
    n_frames = F.greatest(
        F.lit(1), F.floor(F.length("payload") / every_n_bytes)
    ).cast("int")
    return (
        media.withColumn("frame_idx", F.explode(F.sequence(F.lit(0), n_frames - 1)))
        .select(
            "doc_id",
            "frame_idx",
            F.substring(
                F.col("payload").cast("string"),
                F.col("frame_idx") * every_n_bytes + 1,
                every_n_bytes,
            ).alias("frame_bytes"),
        )
    )


RESIZE_SCHEMA = (
    "doc_id long, media_kind string, orig_w int, orig_h int, new_w int, new_h int"
)
TARGET_DIM = 224

EMBED_SCHEMA = "doc_id long, embedding array<int>"
EMBED_DIMS = 8


def image_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resize planning over decoded dimensions (mapInPandas): scale the
    longest side to TARGET_DIM preserving aspect ratio, exact integer math.
    The decode is the stubbed kernel; the resize arithmetic and the Arrow
    batch path are the production shape."""
    media = media_table(spark, sf_dir).where(F.col("media_kind") == "image")

    def resize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            decoded = [fake_decode(p) for p in pdf["payload"]]
            w = [d["width"] for d in decoded]
            h = [d["height"] for d in decoded]
            longest = [max(a, b) for a, b in zip(w, h)]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "media_kind": pdf["media_kind"],
                    "orig_w": w,
                    "orig_h": h,
                    "new_w": [a * TARGET_DIM // m for a, m in zip(w, longest)],
                    "new_h": [b * TARGET_DIM // m for b, m in zip(h, longest)],
                }
            )

    return media.mapInPandas(resize, schema=RESIZE_SCHEMA)


def media_embed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature extraction to a fixed-dim integer 'embedding' (mapInPandas):
    dim i = hex value of the i-th md5 nibble of the payload. A real model
    would replace the kernel body; the array<int> column, Arrow batching and
    downstream-join shape are what the engine guarantees."""
    media = media_table(spark, sf_dir)

    def embed(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib

        for pdf in batches:
            vecs = []
            for p in pdf["payload"]:
                hx = hashlib.md5(p).hexdigest()
                vecs.append([_HEX.index(c) for c in hx[:EMBED_DIMS]])
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "embedding": vecs})

    out = media.mapInPandas(embed, schema=EMBED_SCHEMA)
    # The operator's column IS array<int>; the registered result serializes it
    # so the driver's sorted-column value-hash (scalars only) can compare it.
    return out.select(
        "doc_id",
        F.concat_ws(",", F.col("embedding").cast("array<string>")).alias(
            "embedding_csv"
        ),
    )


# Oracle: the fake-decode math re-expressed in SQL (strpos over md5 hex) --
# proves the pandas-UDF path produces engine-grade deterministic output.
_W_SQL = "64 + strpos('0123456789abcdef', substr(md5(text), 1, 1)) * 16"
_H_SQL = "64 + strpos('0123456789abcdef', substr(md5(text), 2, 1)) * 16"

def media_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact content dedup over BINARY payloads: group by md5 of the bytes
    (not any decoded form), keep the min-doc_id copy. The multimodal analog
    of dedup_exact -- at 100 TB of media the checksum groupBy is the only
    linear-cost dedup there is, and `kinds` > 1 exposes the same bytes
    ingested under different modality tags. One scan + one hash groupBy."""
    m = media_table(spark, sf_dir)
    return m.groupBy(F.md5("payload").alias("checksum")).agg(
        F.count(F.lit(1)).alias("copies"),
        F.min("doc_id").alias("keeper_doc_id"),
        F.countDistinct("media_kind").alias("kinds"),
    )


# --- perceptual-hash near-dup (aHash) ---------------------------------------
# media_dedup_exact only catches byte-identical payloads; a re-encoded image
# (same pixels, different PNG filter choices / compressor settings) escapes
# it. aHash closes that: downsample to an 8x8 grid, threshold each cell at
# the grid mean -> 64-bit signature; near-dups = small hamming distance.
# The signature is carried as TWO 32-bit halves in bigints (ph_hi, ph_lo):
# bit arithmetic stays overflow-free in BOTH engines (DuckDB errors on
# 1<<63; Spark silently wraps -- dual-engine hashing must avoid the sign
# bit entirely).
PHASH_GRID = 8  # 8x8 = 64 cells
PHASH_MAX_HAMMING = 12
PHASH_MAX_BUCKET = 256
# 8 bands x 8 bits: pigeonhole-EXACT recall for hamming <= 7 (any such pair
# shares at least one whole band); for 8..PHASH_MAX_HAMMING recall is
# probabilistic, the standard pHash-dedup trade (the oracle mirrors the
# banding bit-exactly, so the certificate covers the machinery, and the
# planted-image tests pin the recall cases that matter: re-encode -> dist 0,
# small jitter -> dist <= 7).
_PHASH_BANDS = 8


def ahash_halves(cells) -> tuple[int, int]:
    """64 gray cells (row-major) -> (hi, lo) 32-bit aHash halves.

    Bit j of the combined 64-bit hash (MSB first) is set iff
    cells[j] * 64 > sum(cells) -- the strict-mean threshold, kept integer
    so both engines and both kernels agree bit-for-bit."""
    s = sum(int(c) for c in cells)
    bits = [1 if int(c) * 64 > s else 0 for c in cells]
    hi = lo = 0
    for b in bits[:32]:
        hi = hi * 2 + b
    for b in bits[32:]:
        lo = lo * 2 + b
    return hi, lo


def gray_cells_from_pixels(w: int, h: int, mode: str, px) -> list[int]:
    """Real kernel: decoded pixel array -> 64 block-mean gray cells.

    ``px`` is the (h, w*channels) uint8 array ``_png_decode`` / PIL emit.
    Luma via the integer BT.601 weights (r*299 + g*587 + b*114) // 1000;
    block means are floor-integer over pixel blocks [r_i, r_{i+1}) x
    [c_j, c_{j+1}) with boundaries k*dim // 8 -- deterministic, no float."""
    import numpy as np

    ch = {"L": 1, "P": 1, "LA": 2, "RGB": 3, "RGBA": 4}.get(mode)
    if ch is None:
        raise ValueError(f"no gray kernel for mode {mode!r}")
    a = np.asarray(px, dtype=np.uint32).reshape(h, w, ch)
    if ch >= 3:
        gray = (a[:, :, 0] * 299 + a[:, :, 1] * 587 + a[:, :, 2] * 114) // 1000
    else:
        gray = a[:, :, 0]
    g = PHASH_GRID
    if h >= g and w >= g:
        # vectorized block sums: with dim >= g the k*dim//g boundaries
        # are strictly increasing (the max() guard below is a no-op), so
        # two integer reduceats compute every block sum exactly -- same
        # floor-div means, 2 numpy calls instead of 64 slice-sums per
        # image (measured ~2x on the decode+hash kernel)
        rb = [i * h // g for i in range(g)]
        cb = [j * w // g for j in range(g)]
        sums = np.add.reduceat(
            np.add.reduceat(gray.astype(np.int64), rb, axis=0), cb, axis=1
        )  # int64 accumulator: reduceat keeps the input dtype, and the
        # slice path's ndarray.sum() promotes -- match it exactly
        rs = [(i + 1) * h // g - i * h // g for i in range(g)]
        cs = [(j + 1) * w // g - j * w // g for j in range(g)]
        return [
            int(sums[i, j]) // (rs[i] * cs[j])
            for i in range(g)
            for j in range(g)
        ]
    cells = []
    for i in range(g):
        r0, r1 = i * h // g, max((i + 1) * h // g, i * h // g + 1)
        for j in range(g):
            c0, c1 = j * w // g, max((j + 1) * w // g, j * w // g + 1)
            block = gray[r0:r1, c0:c1]
            cells.append(int(block.sum()) // block.size)
    return cells


def media_phash_real(media: DataFrame) -> DataFrame:
    """(doc_id, ph_hi, ph_lo) over REAL encoded image payloads: full pixel
    decode (PIL or the stdlib PNG path) -> block-mean grid -> aHash, all
    inside one Arrow-batched mapInPandas. Payloads without a pixel-decode
    path (JPEG/GIF/BMP header-only) are quarantined as null-hash rows, the
    media_metadata_safe philosophy."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        out_ids, out_hi, out_lo, out_err = [], [], [], []
        for pdf in batches:
            for doc_id, p in zip(pdf["doc_id"], pdf["payload"]):
                try:
                    w, h, mode, px = _decode_pixels(bytes(p))
                    hi, lo = ahash_halves(gray_cells_from_pixels(w, h, mode, px))
                    err = None
                except Exception as exc:  # noqa: BLE001 -- quarantine
                    hi = lo = None
                    err = f"{type(exc).__name__}: {exc}"[:200]
                out_ids.append(doc_id)
                out_hi.append(hi)
                out_lo.append(lo)
                out_err.append(err)
            yield pd.DataFrame(
                {"doc_id": out_ids, "ph_hi": out_hi, "ph_lo": out_lo,
                 "decode_error": out_err}
            )
            out_ids, out_hi, out_lo, out_err = [], [], [], []

    return media.mapInPandas(
        kernel,
        schema="doc_id long, ph_hi long, ph_lo long, decode_error string",
    )


_PIL_IMAGE = None  # resolved once per process by _pil_image()


def _pil_image():
    """One-shot PIL availability probe. The per-call ``from PIL import
    Image`` re-raised ImportError for EVERY payload on PIL-less boxes --
    a full sys.path scan per image (measured ~15% of the decode kernel).
    Caching the failure as False keeps the optional-accelerator contract
    at zero per-image cost."""
    global _PIL_IMAGE
    if _PIL_IMAGE is None:
        try:
            from PIL import Image  # noqa: PLC0415 -- optional accelerator

            _PIL_IMAGE = Image
        except Exception:  # pragma: no cover -- this box lacks PIL
            _PIL_IMAGE = False
    return _PIL_IMAGE


def _decode_pixels(payload: bytes):
    """(w, h, mode, pixel array) with a real pixel decode, or ValueError."""
    Image = _pil_image()
    if Image:
        try:
            import io

            img = Image.open(io.BytesIO(payload))
            import numpy as np

            a = np.asarray(img, dtype=np.uint8)
            return img.width, img.height, img.mode, a
        except Exception:
            pass
    if payload[:8] == b"\x89PNG\r\n\x1a\n":
        return _png_decode(payload)
    raise ValueError("no pixel decode path for this payload")


def phash_neardup_pairs_over(ph: DataFrame) -> DataFrame:
    """Shared banding + verify over any (doc_id, ph_hi, ph_lo) frame --
    the registered fake-grid query and the real-pixel test path both route
    here, so the planted-image differentials certify the exact machinery
    the driver hashes. Plan: one melt to 8 rows/doc, ONE bucket-capped
    self-join (operators/banding.py -- one row per (doc, band) by
    construction), two doc-grain value gathers, codegen bit_count verify.
    Shuffles move only (band_id, 8-bit key) and the 16-byte signatures;
    nothing quadratic at any duplication level (cap absorbs mass dupes)."""
    from cassandra_sstable_tools_spark.operators.banding import capped_band_pairs

    sig = ph.where(F.col("ph_hi").isNotNull()).select("doc_id", "ph_hi", "ph_lo")
    bands = [
        ("ph_hi", (3 - b) * 8) if b < 4 else ("ph_lo", (7 - b) * 8)
        for b in range(_PHASH_BANDS)
    ]
    long = sig.select(
        "doc_id",
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(b).alias("band_id"),
                    F.shiftright(F.col(col), sh)
                    .bitwiseAND(F.lit(255))
                    .alias("bk"),
                )
                for b, (col, sh) in enumerate(bands)
            ])
        ).alias("e"),
    ).select("doc_id", "e.band_id", "e.bk")
    cands = capped_band_pairs(long, "doc_id", "doc_a", "doc_b", PHASH_MAX_BUCKET)
    a_sig = sig.select(
        F.col("doc_id").alias("doc_a"),
        F.col("ph_hi").alias("hi_a"), F.col("ph_lo").alias("lo_a"),
    )
    b_sig = sig.select(
        F.col("doc_id").alias("doc_b"),
        F.col("ph_hi").alias("hi_b"), F.col("ph_lo").alias("lo_b"),
    )
    hamming = (
        F.bit_count(F.col("hi_a").bitwiseXOR(F.col("hi_b")))
        + F.bit_count(F.col("lo_a").bitwiseXOR(F.col("lo_b")))
    ).cast("bigint")
    return (
        cands.join(a_sig, "doc_a")
        .join(b_sig, "doc_b")
        .withColumn("hamming", hamming)
        .where(F.col("hamming") <= PHASH_MAX_HAMMING)
        .select("doc_a", "doc_b", "hamming")
    )


def media_neardup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual-hash near-dup pairs over the media table.

    The fixture's payloads are utf-8 text, so the registered query derives
    its 8x8 "gray grid" from the payload's WORD sequence (cell j = md5
    nibble of the word at position j*n/64 -- a deterministic stand-in for
    pixel downsampling that is exactly SQL-mirrorable); everything after
    the grid -- aHash halves, 8x8-bit banding, capped join, hamming verify
    -- is the REAL operator, shared with the real-pixel path
    (``media_phash_real`` -> ``phash_neardup_pairs_over``) that the planted
    PNG re-encode differential drives in tests. All JVM-side, no Python in
    the registered path.

    The words array, the grid and its sum are each bound to a lambda
    variable (``transform(array(x), v -> ...)`` is a let-binding), so each
    is computed once per doc and every per-element lambda reads a bound
    value. Referenced as plain columns, the optimizer inlined the grid
    expression into the per-element lambdas of both halves: 64 grid
    evaluations (64 md5s and a regex split of the whole payload each) per
    half per doc, which took 111 s on 500 documents."""
    m = media_table(spark, sf_dir)
    grid = (
        "transform(sequence(0, 63), j -> cast(conv(substr(md5(element_at("
        "ws, cast((j * size(ws)) div 64 as int) + 1)), 1, 1), 16, 10) as int))"
    )
    g = m.select(
        "doc_id",
        F.expr(
            "element_at(transform(array(split(regexp_replace(lower(decode("
            r"payload, 'UTF-8')), '\\s+', ' '), ' ')), ws -> element_at("
            f"transform(array({grid}), cs -> named_struct('cs', cs, 's', "
            "aggregate(cs, 0, (a, x) -> a + x))), 1)), 1)"
        ).alias("g"),
    )
    half = (
        "aggregate(sequence({}, {}), 0L, (acc, j) -> acc * 2 + "
        "if(element_at(g.cs, j + 1) * 64 > g.s, 1L, 0L))"
    )
    ph = g.select(
        "doc_id",
        F.expr(half.format(0, 31)).alias("ph_hi"),
        F.expr(half.format(32, 63)).alias("ph_lo"),
    )
    return phash_neardup_pairs_over(ph)


def _phash_oracle() -> str:
    from cassandra_sstable_tools_spark.operators.banding import (
        capped_band_pairs_sql,
    )

    band_cte = capped_band_pairs_sql(
        "bands", "doc_id", "doc_a", "doc_b", PHASH_MAX_BUCKET
    )
    return rf"""
WITH n AS (
    SELECT doc_id,
           string_split(regexp_replace(lower(text), '\s+', ' ', 'g'), ' ') AS ws
    FROM documents WHERE text IS NOT NULL
),
cells AS (
    SELECT doc_id,
           [strpos('0123456789abcdef',
                   substr(md5(ws[((j * len(ws)) // 64) + 1]), 1, 1)) - 1
            FOR j IN range(0, 64)] AS cs
    FROM n
),
ph AS (
    SELECT doc_id,
           list_sum([CASE WHEN cs[j + 1] * 64 > list_sum(cs)
                          THEN (1::BIGINT << (31 - j)) ELSE 0 END
                     FOR j IN range(0, 32)]) AS ph_hi,
           list_sum([CASE WHEN cs[j + 1] * 64 > list_sum(cs)
                          THEN (1::BIGINT << (63 - j)) ELSE 0 END
                     FOR j IN range(32, 64)]) AS ph_lo
    FROM cells
),
bands AS (
    SELECT doc_id, b.band_id,
           CASE WHEN b.band_id < 4
                THEN (ph_hi >> ((3 - b.band_id) * 8)) & 255
                ELSE (ph_lo >> ((7 - b.band_id) * 8)) & 255 END AS bk
    FROM ph, LATERAL (SELECT unnest(range(0, 8)) AS band_id) b
),
{band_cte}
SELECT c.doc_a, c.doc_b,
       bit_count(xor(pa.ph_hi, pb.ph_hi))
           + bit_count(xor(pa.ph_lo, pb.ph_lo)) AS hamming
FROM cands c
JOIN ph pa ON pa.doc_id = c.doc_a
JOIN ph pb ON pb.doc_id = c.doc_b
WHERE bit_count(xor(pa.ph_hi, pb.ph_hi))
          + bit_count(xor(pa.ph_lo, pb.ph_lo)) <= {PHASH_MAX_HAMMING}
"""


ORACLES = {
    "media_neardup_pairs": _phash_oracle(),
    "media_dedup_exact": """
SELECT md5(text) AS checksum,
       count(*) AS copies,
       CAST(min(doc_id) AS BIGINT) AS keeper_doc_id,
       count(DISTINCT CASE WHEN doc_id % 3 = 0 THEN 'image'
                           WHEN doc_id % 3 = 1 THEN 'audio'
                           ELSE 'video' END) AS kinds
FROM documents
WHERE text IS NOT NULL
GROUP BY 1
""",
    "image_resize": f"""
SELECT doc_id, 'image' AS media_kind,
       CAST({_W_SQL} AS INT) AS orig_w,
       CAST({_H_SQL} AS INT) AS orig_h,
       CAST(({_W_SQL}) * {TARGET_DIM} // greatest({_W_SQL}, {_H_SQL}) AS INT)
           AS new_w,
       CAST(({_H_SQL}) * {TARGET_DIM} // greatest({_W_SQL}, {_H_SQL}) AS INT)
           AS new_h
FROM documents
WHERE text IS NOT NULL AND doc_id % 3 = 0
""",
    "media_embed": f"""
SELECT doc_id,
       array_to_string([strpos('0123456789abcdef', substr(md5(text), i, 1)) - 1
                        FOR i IN range(1, {EMBED_DIMS} + 1)], ',')
           AS embedding_csv
FROM documents
WHERE text IS NOT NULL
""",
    # n_frames counts BYTES (octet_length of the utf-8 payload) while
    # frame_bytes slices CHARS (binary->string cast then substring) --
    # mirroring the Spark formulation exactly.
    "frame_sample": """
SELECT doc_id,
       CAST(i AS INT) AS frame_idx,
       substr(text, CAST(i * 100 + 1 AS BIGINT), 100) AS frame_bytes
FROM documents,
     LATERAL (SELECT unnest(range(0,
         greatest(1, octet_length(encode(text)) // 100))) AS i)
WHERE text IS NOT NULL AND doc_id % 3 = 2
""",
    "media_metadata": """
SELECT doc_id,
       octet_length(encode(text)) AS n_bytes,
       CASE WHEN doc_id % 3 = 0 THEN 'image'
            WHEN doc_id % 3 = 1 THEN 'audio'
            ELSE 'video' END AS media_kind,
       CAST(64 + strpos('0123456789abcdef', substr(md5(text), 1, 1)) * 16 AS INT)
           AS width,
       CAST(64 + strpos('0123456789abcdef', substr(md5(text), 2, 1)) * 16 AS INT)
           AS height,
       substr(md5(text), 1, 8) AS checksum_prefix
FROM documents
WHERE text IS NOT NULL
""",
}

QUERIES = {
    "media_metadata": media_metadata,
    "frame_sample": frame_sample,  # hash-checked (oracle above, green r03)
    "image_resize": image_resize,
    "media_embed": media_embed,
    "media_dedup_exact": media_dedup_exact,
    "media_neardup_pairs": media_neardup_pairs,
}


# --------------------------------------------------------------------------
# media_neardup_real: the real-pixel perceptual hash, driver-certified
# --------------------------------------------------------------------------
#
# r07 residual: media_neardup_pairs certifies the banding/verify machinery
# over a word-grid stand-in; the REAL-pixel kernel (PNG decode -> block-mean
# gray -> aHash) was differential-tested but not driver-certified. This
# query plants REAL PNG payloads in-plan -- pixel values a deterministic
# md5 function of doc_id, so DuckDB can predict the resulting hashes -- and
# runs the full encode -> decode -> gray -> aHash -> banding -> hamming
# pipeline. The planted TWINS (every doc_id % TWIN_EVERY == 0 gets a 16x16
# re-encode of its 8x8 image under doc_id + TWIN_OFFSET) are the r07
# re-encode differential RUNNING INSIDE THE REGISTERED PLAN: different
# bytes (byte dedup misses them), identical block means (hamming 0).

TWIN_EVERY = 37
TWIN_OFFSET = 10_000_000


def encode_png_gray(rows: list[list[int]]) -> bytes:
    """Minimal spec-conformant 8-bit grayscale PNG encoder (filter 0):
    the production half of the planted-image pipeline (the test-side
    encoder in tests/test_multimodal_real.py covers all filters/types)."""
    import struct

    h, w = len(rows), len(rows[0])

    def chunk(ctype: bytes, payload: bytes) -> bytes:
        return (
            struct.pack(">I", len(payload)) + ctype + payload
            + struct.pack(">I", zlib.crc32(ctype + payload) & 0xFFFFFFFF)
        )

    raw = b"".join(b"\x00" + bytes(r) for r in rows)
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 8, 0, 0, 0, 0))
        + chunk(b"IDAT", zlib.compress(raw))
        + chunk(b"IEND", b""))


def planted_grid(doc_id: int) -> list[int]:
    """The 64 deterministic gray values of doc ``doc_id``'s planted image:
    cell j = first md5 hex nibble of '<doc_id>:<j>' -- the formula the
    DuckDB oracle replays verbatim."""
    import hashlib

    return [
        int(hashlib.md5(f"{doc_id}:{j}".encode()).hexdigest()[0], 16)
        for j in range(64)
    ]


def planted_media(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, payload) of planted PNGs: one 8x8 grayscale image per
    document, plus a 16x16 2x-upscaled TWIN (same block means, different
    bytes) for every TWIN_EVERY-th doc under doc_id + TWIN_OFFSET."""
    base = (
        load_table(spark, sf_dir, "documents")
        .where(F.col("text").isNotNull())
        .select("doc_id")
    )
    twins = base.where(F.col("doc_id") % TWIN_EVERY == 0).select(
        (F.col("doc_id") + TWIN_OFFSET).alias("doc_id")
    )
    ids = base.unionByName(twins)
    # Parallelism floor for the Python kernels downstream (PNG encode ->
    # decode -> hash are CPU-bound per row): a small corpus parquet scans
    # as 1-2 partitions, serializing the whole kernel onto 1-2 cores
    # (measured: 5k docs, 1 scan partition, ~4s on 32 idle cores). The
    # id rows are 8 bytes each, so the round-robin exchange is free; at
    # scale the scan already exceeds defaultParallelism and this is a
    # no-op.
    sc = spark.sparkContext
    if ids.rdd.getNumPartitions() < sc.defaultParallelism:
        ids = ids.repartition(sc.defaultParallelism)

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = []
            for doc_id in pdf["doc_id"]:
                did = int(doc_id)
                src = did - TWIN_OFFSET if did >= TWIN_OFFSET else did
                g = planted_grid(src)
                if did >= TWIN_OFFSET:  # 16x16 2x-upscale: same block means
                    rows = [
                        [g[(r // 2) * 8 + (c // 2)] for c in range(16)]
                        for r in range(16)
                    ]
                else:
                    rows = [g[r * 8 : r * 8 + 8] for r in range(8)]
                payloads.append(encode_png_gray(rows))
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "payload": payloads})

    return ids.mapInPandas(kernel, "doc_id long, payload binary")


def media_neardup_real(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual near-dup pairs over REAL planted PNG pixels: payloads
    PNG-encoded in-plan, then the full real-pixel kernel
    (``media_phash_real``: decode, block-mean gray, aHash) and the shared
    banding + hamming verify. The oracle predicts every hash from the
    planted-pixel formula, so a bug anywhere in the PNG encoder, the
    decoder, the gray kernel or the hash fold breaks the driver hash.
    Reference analog: none (LLM-pipeline extension); kernels documented in
    media_phash_real."""
    # the banding tail consumes the signature frame THREE times (the band
    # melt plus the two side-signature re-attaches); media_phash_real is an
    # opaque Python kernel, so without a materialization point every
    # consumer re-ran the full PNG encode->decode->hash pipeline (measured
    # with the noop sink: kernel 0.78s, full query 3.11s = ~3x kernel +
    # joins). A lazy localCheckpoint computes the 24-byte/doc signatures
    # once per run; blocks free with the plan via the ContextCleaner. The
    # fake-grid twin (media_neardup_pairs) stays checkpoint-free -- its
    # phash is cheap JVM expressions where a barrier would only add cost.
    ph = media_phash_real(planted_media(spark, sf_dir)).localCheckpoint(
        eager=False
    )
    return phash_neardup_pairs_over(ph)


def _phash_real_oracle() -> str:
    from cassandra_sstable_tools_spark.operators.banding import (
        capped_band_pairs_sql,
    )

    band_cte = capped_band_pairs_sql(
        "bands", "doc_id", "doc_a", "doc_b", PHASH_MAX_BUCKET
    )
    return rf"""
WITH ids AS (
    SELECT doc_id, doc_id AS src FROM documents WHERE text IS NOT NULL
    UNION ALL
    SELECT doc_id + {TWIN_OFFSET} AS doc_id, doc_id AS src
    FROM documents WHERE text IS NOT NULL AND doc_id % {TWIN_EVERY} = 0
),
cells AS (
    SELECT doc_id,
           [strpos('0123456789abcdef',
                   substr(md5(src::VARCHAR || ':' || j::VARCHAR), 1, 1)) - 1
            FOR j IN range(0, 64)] AS cs
    FROM ids
),
ph AS (
    SELECT doc_id,
           list_sum([CASE WHEN cs[j + 1] * 64 > list_sum(cs)
                          THEN (1::BIGINT << (31 - j)) ELSE 0 END
                     FOR j IN range(0, 32)]) AS ph_hi,
           list_sum([CASE WHEN cs[j + 1] * 64 > list_sum(cs)
                          THEN (1::BIGINT << (63 - j)) ELSE 0 END
                     FOR j IN range(32, 64)]) AS ph_lo
    FROM cells
),
bands AS (
    SELECT doc_id, b.band_id,
           CASE WHEN b.band_id < 4
                THEN (ph_hi >> ((3 - b.band_id) * 8)) & 255
                ELSE (ph_lo >> ((7 - b.band_id) * 8)) & 255 END AS bk
    FROM ph, LATERAL (SELECT unnest(range(0, 8)) AS band_id) b
),
{band_cte}
SELECT c.doc_a, c.doc_b,
       bit_count(xor(pa.ph_hi, pb.ph_hi))
           + bit_count(xor(pa.ph_lo, pb.ph_lo)) AS hamming
FROM cands c
JOIN ph pa ON pa.doc_id = c.doc_a
JOIN ph pb ON pb.doc_id = c.doc_b
WHERE bit_count(xor(pa.ph_hi, pb.ph_hi))
          + bit_count(xor(pa.ph_lo, pb.ph_lo)) <= {PHASH_MAX_HAMMING}
"""


QUERIES["media_neardup_real"] = media_neardup_real
ORACLES["media_neardup_real"] = _phash_real_oracle()
