"""Multimodal (image/audio/video) column plumbing (beyond-reference).

Media payloads are opaque ``binary`` columns with a typed metadata struct
alongside.  The Spark-side plumbing — schemas, one Arrow-batched
``mapInPandas`` row map (``_map_rows``), partitioning — is real and tested.
The codecs are pure NumPy + stdlib and decode for real:

- images: 24-bit BI_RGB **BMP** (bottom-up rows, 4-byte stride padding,
  BGR order), binary **PPM** (P6), **PNG** (stdlib-zlib inflate + all five
  unfilters), **JPEG** baseline, progressive and 12-bit extended
  sequential (DQT/DHT marker walk, Huffman decode, dequant, batched float
  IDCT, restart markers, 4:4:4/4:2:2/4:2:0 chroma, T.81 Annex-G spectral
  selection + successive approximation), and **GIF** still and animated
  (variable-width LSB-first LZW incl. dictionary reset and KwKwK,
  interlacing, global/local color tables, disposal-composited frames);
- audio: PCM-16 **WAV** (RIFF chunk walk);
- video: **MJPEG-in-AVI** frames (RIFF walk, each frame a JPEG); every
  other video codec goes through a deployment-registered
  ``EXTERNAL_VIDEO_DECODERS`` wrapper and otherwise raises
  ``NotImplementedError``;
- metadata: **MP4** container boxes (duration, dims, codec fourcc) and
  JPEG **EXIF** (both byte orders, orientation applied on request).

mp3 and other compressed audio need external codec libraries, which are
not in this container, so those raise ``NotImplementedError``.
``fake=True`` keeps the digest-derived deterministic stub for arbitrary
payloads.

Scale notes: media rows are fat — ``mapInPandas`` streams Arrow batches, so
per-task memory is bounded by ``spark.sql.execution.arrow.maxRecordsPerBatch``
(lower it for >10 MB payloads).  Repartition by a content-hash column before
heavy decode so stragglers don't concentrate.
"""

from __future__ import annotations

import functools
import hashlib
import numbers
import struct
from collections.abc import Callable, Iterable, Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .dedup import (
    _pigeonhole_bound,
    _serve_rows,
    chunks_4x16,
    hamming_ab,
    hamming_serve_pairs,
    prune_df_window,
)

DECODED_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("n_channels", T.IntegerType()),
        T.StructField("features", T.ArrayType(T.FloatType())),
    ]
)

#: the (media_id, content) output of every ``synthetic_*`` generator
_SYNTH_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("content", T.BinaryType()),
    ]
)


def _map_rows(
    df: DataFrame,
    cols: list,
    schema: T.StructType,
    fn: Callable[..., Iterable[tuple]],
) -> DataFrame:
    """``df.select(*cols)`` mapped row by row in Arrow batches: ``fn(*row)``
    yields zero or more output tuples in ``schema`` order.  The one
    ``mapInPandas`` loop behind every media operator and generator —
    map-only, no shuffle, per-task memory one Arrow batch."""
    names = schema.fieldNames()

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                [
                    out
                    for row in pdf.itertuples(index=False, name=None)
                    for out in fn(*row)
                ],
                columns=names,
            )

    return df.select(*cols).mapInPandas(gen, schema=schema)


def _keyed_cols(
    id_col: str, seed_col: str | None, offset_col: str | None
) -> tuple[list, Callable[..., tuple]]:
    """Select list and row unpacker for the generators whose content is
    keyed by optional seed / offset columns: ``unpack(*row)`` returns
    ``(id, seed, offset)`` as plain ints, ``None`` for a column not
    named."""
    keys = (id_col, seed_col, offset_col)
    cols = list(dict.fromkeys(c for c in keys if c is not None))

    def unpack(*row):
        v = dict(zip(cols, row))
        return tuple(None if c is None else int(v[c]) for c in keys)

    return cols, unpack


def attach_binary(df: DataFrame, payload_col: str, id_col: str) -> DataFrame:
    """Wrap a text column as an opaque ``utf8-text`` media payload with
    typed metadata.

    All metadata is computed JVM-side (``encode``/``sha2``/``octet_length``).
    """
    content = F.encode(F.col(payload_col), "UTF-8")
    return df.select(
        F.col(id_col).cast("long").alias("media_id"),
        content.alias("content"),
        F.struct(
            F.lit("utf8-text").alias("format"),
            F.octet_length(content).cast("long").alias("byte_len"),
            F.sha2(F.col(payload_col), 256).alias("sha256"),
        ).alias("meta"),
    )


def _fake_decode(payload: bytes) -> tuple[int, int, int, np.ndarray]:
    """Deterministic stand-in for a real image decoder (STUB).

    Dimensions and the 8 features derive from the sha256 digest — stable
    across runs and machines, so tests can assert exact values.
    """
    digest = hashlib.sha256(payload).digest()
    width = 64 + digest[0] % 192
    height = 64 + digest[1] % 192
    n_channels = 1 + digest[2] % 4
    feats = (
        np.frombuffer(digest[:16], dtype=np.uint16).astype(np.float32)
        / 65535.0
    )
    return width, height, n_channels, feats


# ---------------------------------------------------------------------------
# Real pure-NumPy codecs for uncompressed formats


def encode_bmp(rgb: np.ndarray) -> bytes:
    """(h, w, 3) uint8 RGB, top-down -> 24-bit BI_RGB BMP bytes
    (bottom-up rows, BGR byte order, rows padded to 4-byte strides)."""
    h, w, _ = rgb.shape
    stride = (3 * w + 3) // 4 * 4
    data_off = 14 + 40
    img_size = stride * h
    out = bytearray()
    out += b"BM" + struct.pack("<IHHI", data_off + img_size, 0, 0, data_off)
    out += struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, img_size, 2835, 2835, 0, 0)
    pad = b"\x00" * (stride - 3 * w)
    for r in range(h - 1, -1, -1):  # bottom-up
        out += rgb[r, :, ::-1].tobytes() + pad  # BGR
    return bytes(out)


def decode_bmp(payload: bytes) -> np.ndarray:
    """24-bit BI_RGB BMP bytes -> (h, w, 3) uint8 RGB, top-down."""
    if payload[:2] != b"BM":
        raise ValueError("not a BMP payload")
    data_off = struct.unpack_from("<I", payload, 10)[0]
    w = struct.unpack_from("<i", payload, 18)[0]
    h = struct.unpack_from("<i", payload, 22)[0]
    bpp = struct.unpack_from("<H", payload, 28)[0]
    comp = struct.unpack_from("<I", payload, 30)[0]
    if bpp != 24 or comp != 0:
        raise NotImplementedError("only 24-bit uncompressed BI_RGB supported")
    bottom_up, h = h > 0, abs(h)
    stride = (3 * w + 3) // 4 * 4
    rows = np.frombuffer(
        payload, dtype=np.uint8, count=stride * h, offset=data_off
    ).reshape(h, stride)[:, : 3 * w]
    bgr = rows.reshape(h, w, 3)
    if bottom_up:
        bgr = bgr[::-1]
    return bgr[:, :, ::-1].copy()


def decode_ppm(payload: bytes) -> np.ndarray:
    """Binary PPM (P6) -> (h, w, 3) uint8 RGB.  Handles whitespace and
    ``#`` comments in the header per the netpbm spec."""
    if payload[:2] != b"P6":
        raise ValueError("not a P6 PPM payload")
    pos, fields = 2, []
    while len(fields) < 3:
        while pos < len(payload) and payload[pos : pos + 1].isspace():
            pos += 1
        if payload[pos : pos + 1] == b"#":  # comment to end of line
            while payload[pos : pos + 1] not in (b"\n", b""):
                pos += 1
            continue
        start = pos
        while pos < len(payload) and not payload[pos : pos + 1].isspace():
            pos += 1
        fields.append(int(payload[start:pos]))
    w, h, maxval = fields
    if maxval != 255:
        raise NotImplementedError("only maxval=255 PPM supported")
    pos += 1  # single whitespace after maxval
    return (
        np.frombuffer(payload, dtype=np.uint8, count=3 * w * h, offset=pos)
        .reshape(h, w, 3)
        .copy()
    )


_PNG_SIG = b"\x89PNG\r\n\x1a\n"
# color type -> samples per pixel (8-bit depth only)
_PNG_CHANNELS = {0: 1, 2: 3, 6: 4}


def _png_chunk(ctype: bytes, data: bytes) -> bytes:
    import zlib

    return (
        struct.pack(">I", len(data))
        + ctype
        + data
        + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF)
    )


# Adam7 interlace pass grid: (x_start, y_start, x_step, y_step) per pass
_ADAM7 = [
    (0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
    (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2),
]


def _png_filter_rows(
    raw: np.ndarray, bpp: int, filters: list[int] | None
) -> bytearray:
    """Filter a (rows, width*bpp) int16 sample block into PNG scanline
    bytes (filter-type byte + filtered samples per row).  Shared by the
    sequential and Adam7 encode paths — in Adam7 each pass is filtered
    as its own independent sub-image (prior row = previous row of the
    SAME pass)."""
    h, stride = raw.shape
    zeros = np.zeros(stride, dtype=np.int16)
    out = bytearray()
    for y in range(h):
        ftype = 0 if filters is None else filters[y % len(filters)]
        cur, prior = raw[y], (raw[y - 1] if y else zeros)
        left = np.concatenate([np.zeros(bpp, np.int16), cur[:-bpp]])
        ul = np.concatenate([np.zeros(bpp, np.int16), prior[:-bpp]])
        if ftype == 0:
            filt = cur
        elif ftype == 1:
            filt = cur - left
        elif ftype == 2:
            filt = cur - prior
        elif ftype == 3:
            filt = cur - (left + prior) // 2
        elif ftype == 4:
            p = left + prior - ul
            pa, pb, pc = np.abs(p - left), np.abs(p - prior), np.abs(p - ul)
            pred = np.where(
                (pa <= pb) & (pa <= pc), left, np.where(pb <= pc, prior, ul)
            )
            filt = cur - pred
        else:
            raise ValueError(f"bad filter type {ftype}")
        out += bytes([ftype]) + (filt % 256).astype(np.uint8).tobytes()
    return out


def encode_png(
    img: np.ndarray,
    filters: list[int] | None = None,
    interlace: bool = False,
) -> bytes:
    """(h, w, 3) uint8 RGB (or (h, w) gray / (h, w, 4) RGBA) -> PNG bytes.

    ``filters`` optionally fixes the per-scanline filter type (0-4, cycled);
    the default is filter 0 everywhere.  Varying the filter per row makes a
    round-trip exercise every unfilter path in ``decode_png``.
    ``interlace=True`` writes Adam7 (r8): the seven passes are filtered as
    independent sub-images and concatenated into one zlib stream, per the
    PNG spec; empty passes (zero width or height) contribute no bytes.
    """
    import zlib

    if img.ndim == 2:
        img, color_type = img[:, :, None], 0
    elif img.shape[2] == 3:
        color_type = 2
    elif img.shape[2] == 4:
        color_type = 6
    else:
        raise ValueError("expected gray, RGB, or RGBA uint8 image")
    h, w, bpp = img.shape
    ihdr = struct.pack(">IIBBBBB", w, h, 8, color_type, 0, 0, int(interlace))
    if interlace:
        out = bytearray()
        for x0, y0, dx, dy in _ADAM7:
            sub = img[y0::dy, x0::dx]
            ph, pw = sub.shape[:2]
            if ph and pw:
                out += _png_filter_rows(
                    sub.reshape(ph, pw * bpp).astype(np.int16), bpp, filters
                )
    else:
        out = _png_filter_rows(
            img.reshape(h, w * bpp).astype(np.int16), bpp, filters
        )
    return (
        _PNG_SIG
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", zlib.compress(bytes(out), 6))
        + _png_chunk(b"IEND", b"")
    )


def decode_png(payload: bytes) -> np.ndarray:
    """PNG bytes -> (h, w, channels) uint8, top-down.

    Real decode via stdlib zlib: chunk walk with CRC verification,
    concatenated-IDAT inflate, all five scanline unfilters (None/Sub/
    Up/Average/Paeth), and Adam7 interlace (r8: seven independently
    filtered passes scattered onto the pass grid).  Supports 8-bit
    gray / RGB / RGBA; palette and 16-bit depth still reject.
    """
    import zlib

    if payload[: len(_PNG_SIG)] != _PNG_SIG:
        raise ValueError("not a PNG payload")
    pos, idat, ihdr, ended = len(_PNG_SIG), bytearray(), None, False
    while pos + 8 <= len(payload):
        (length,) = struct.unpack_from(">I", payload, pos)
        if pos + 12 + length > len(payload):
            raise ValueError("truncated PNG chunk")
        ctype = payload[pos + 4 : pos + 8]
        data = payload[pos + 8 : pos + 8 + length]
        (crc,) = struct.unpack_from(">I", payload, pos + 8 + length)
        if zlib.crc32(ctype + data) & 0xFFFFFFFF != crc:
            raise ValueError(f"bad CRC in {ctype!r} chunk")
        if ihdr is None and ctype != b"IHDR":
            # spec: IHDR must be the first chunk — a stream that fronts
            # IDAT is malformed, reject like the corrupt-CRC case
            raise ValueError(f"first chunk is {ctype!r}, expected IHDR")
        if ctype == b"IHDR":
            if ihdr is not None:
                raise ValueError("duplicate IHDR chunk")
            ihdr = struct.unpack(">IIBBBBB", data)
        elif ctype == b"IDAT":
            idat += data
        elif ctype == b"IEND":
            ended = True
            pos += 12 + length
            break
        pos += 12 + length
    if ihdr is None or not idat:
        raise ValueError("missing IHDR/IDAT chunk")
    if not ended:
        raise ValueError("missing IEND chunk")
    if pos != len(payload):
        # trailing bytes after IEND: not a valid PNG stream — reject
        # rather than silently ignore (strict reject-path behavior, same
        # policy as CRC verification)
        raise ValueError(f"{len(payload) - pos} trailing bytes after IEND")
    w, h, depth, color_type, _comp, _filt, interlace = ihdr
    if depth != 8 or color_type not in _PNG_CHANNELS or interlace not in (0, 1):
        raise NotImplementedError(
            "only 8-bit gray/RGB/RGBA PNG (interlace 0 or Adam7) supported"
        )
    bpp = _PNG_CHANNELS[color_type]
    raw = zlib.decompress(bytes(idat))
    if interlace:
        # Adam7 (r8): seven independently-filtered sub-images concatenated
        # in one zlib stream, scattered back onto the pass grid
        full = np.zeros((h, w, bpp), dtype=np.uint8)
        off = 0
        for x0, y0, dx, dy in _ADAM7:
            ph = (h - y0 + dy - 1) // dy if h > y0 else 0
            pw = (w - x0 + dx - 1) // dx if w > x0 else 0
            if not ph or not pw:
                continue
            size = ph * (pw * bpp + 1)
            sub = _png_unfilter_rows(raw[off : off + size], ph, pw, bpp)
            full[y0::dy, x0::dx] = sub.reshape(ph, pw, bpp)
            off += size
        if off != len(raw):
            raise ValueError("IDAT length does not match Adam7 pass layout")
        out = full
    else:
        if len(raw) != h * (w * bpp + 1):
            raise ValueError("IDAT length does not match dimensions")
        out = _png_unfilter_rows(raw, h, w, bpp).reshape(h, w, bpp)
    return out[:, :, 0] if color_type == 0 else out


def _png_unfilter_rows(raw: bytes, h: int, w: int, bpp: int) -> np.ndarray:
    """Reverse the five PNG scanline filters over an (h, w*bpp) block —
    one sequential sub-image (the whole image, or one Adam7 pass)."""
    stride = w * bpp
    if len(raw) != h * (stride + 1):
        raise ValueError("scanline data does not match dimensions")
    img = np.zeros((h, stride), dtype=np.int32)
    for y in range(h):
        ftype = raw[y * (stride + 1)]
        line = np.frombuffer(
            raw, np.uint8, count=stride, offset=y * (stride + 1) + 1
        ).astype(np.int32)
        prior = img[y - 1] if y else np.zeros(stride, np.int32)
        if ftype == 0:
            img[y] = line
        elif ftype == 2:
            img[y] = (line + prior) % 256
        elif ftype == 1:
            # recon[i] = line[i] + recon[i-bpp]: per-lane cumulative sum
            img[y] = np.cumsum(line.reshape(w, bpp), axis=0).reshape(stride) % 256
        elif ftype in (3, 4):
            # Average/Paeth reference the just-reconstructed left pixel —
            # inherently sequential in x (tiny loop; a codec lib would JIT)
            rec = img[y]
            for i in range(stride):
                a = rec[i - bpp] if i >= bpp else 0
                b = prior[i]
                if ftype == 3:
                    rec[i] = (line[i] + (a + b) // 2) % 256
                else:
                    c = prior[i - bpp] if i >= bpp else 0
                    p = a + b - c
                    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                    pred = a if pa <= pb and pa <= pc else (b if pb <= pc else c)
                    rec[i] = (line[i] + pred) % 256
        else:
            raise ValueError(f"bad filter type {ftype}")
    return img.astype(np.uint8)


# ---------------------------------------------------------------------------
# JPEG (ITU-T T.81): pure-NumPy encoders + decoder.
#
# Scope: Huffman DCT at 8-bit (baseline SOF0 with restart intervals, and
# progressive SOF2 with spectral selection + successive approximation per
# Annex G) and 12-bit (extended sequential SOF1, r8) — grayscale or
# 3-component color with integer chroma subsampling (4:4:4 / 4:2:2 /
# 4:2:0 / 4:1:1).  Arithmetic coding, hierarchical, and lossless modes
# raise NotImplementedError — genuinely separate codec paths.
#
# The encoders emit canonical Huffman tables built from fixed code lengths
# (12 DC categories at 4 bits, AC symbols at 8 bits — plus EOBn run
# symbols for progressive scans) — valid DHT segments any JPEG decoder can
# read; the decoder reads WHATEVER tables the stream declares, so it is
# not paired to these encoders.


def _zigzag() -> np.ndarray:
    """The 64-entry zigzag scan order as flat indices into a row-major 8x8."""
    order = []
    for d in range(15):
        rs = range(max(0, d - 7), min(d, 7) + 1)
        for r in rs if d % 2 == 1 else reversed(rs):
            order.append(r * 8 + (d - r))
    return np.array(order)


_ZIGZAG = _zigzag()
_DCT_C = np.array(
    [
        [
            (1 / np.sqrt(8) if u == 0 else 0.5) * np.cos((2 * x + 1) * u * np.pi / 16)
            for x in range(8)
        ]
        for u in range(8)
    ]
)

# canonical-table symbol sets: DC categories 0..11; AC (run, size) symbols
# 0x00 (EOB), 0xF0 (ZRL), and run 0-15 x size 1-10
_DC_SYMBOLS = list(range(12))
_AC_SYMBOLS = [0x00, 0xF0] + [
    (r << 4) | s for r in range(16) for s in range(1, 11)
]


def _canonical_table(symbols: list[int], length: int):
    """bits/huffval arrays + {symbol: (code, length)} for a fixed-length
    canonical Huffman table (valid while count < 2^length: the all-ones
    code stays unused, as T.81 requires)."""
    assert len(symbols) < (1 << length)
    bits = [0] * 17
    bits[length] = len(symbols)
    codes = {sym: (i, length) for i, sym in enumerate(symbols)}
    return bits, list(symbols), codes


_DC_BITS, _DC_VALS, _DC_CODES = _canonical_table(_DC_SYMBOLS, 4)
_AC_BITS, _AC_VALS, _AC_CODES = _canonical_table(_AC_SYMBOLS, 8)
# 12-bit extended sequential (SOF1) tables — T.81 Table F.1/F.2: DC
# difference categories reach 15 and AC magnitude categories reach 14
# at 12-bit precision, so the 8-bit tables above cannot express them
_DC12_SYMBOLS = list(range(16))
_AC12_SYMBOLS = [0x00, 0xF0] + [
    (r << 4) | s for r in range(16) for s in range(1, 15)
]
_DC12_BITS, _DC12_VALS, _DC12_CODES = _canonical_table(_DC12_SYMBOLS, 5)
_AC12_BITS, _AC12_VALS, _AC12_CODES = _canonical_table(_AC12_SYMBOLS, 9)
# progressive AC scans additionally emit EOBn run-length symbols
# (n = 1..14; plain EOB 0x00 is the n=0 case) — T.81 G.1.2.2
_PROG_AC_SYMBOLS = _AC_SYMBOLS + [n << 4 for n in range(1, 15)]
_PROG_AC_BITS, _PROG_AC_VALS, _PROG_AC_CODES = _canonical_table(
    _PROG_AC_SYMBOLS, 8
)


class _BitWriter:
    def __init__(self) -> None:
        self.out = bytearray()
        self._acc = 0
        self._n = 0

    def write(self, code: int, length: int) -> None:
        self._acc = (self._acc << length) | (code & ((1 << length) - 1))
        self._n += length
        while self._n >= 8:
            self._n -= 8
            byte = (self._acc >> self._n) & 0xFF
            self.out.append(byte)
            if byte == 0xFF:  # byte stuffing
                self.out.append(0x00)

    def flush(self) -> None:
        if self._n:
            self.write(0xFF >> (8 - (-self._n % 8)), -self._n % 8)


def _category(v: int) -> int:
    """DC/AC magnitude category: bit length of |v| (0 for v == 0)."""
    return int(v).bit_length() if v >= 0 else int(-v).bit_length()


def _encode_block(
    w: _BitWriter, coefs: np.ndarray, pred: int, dc_codes, ac_codes
) -> int:
    """Huffman-encode one zigzagged 64-coef block; returns the new DC pred."""
    zz = coefs.reshape(-1)[_ZIGZAG]
    diff = int(zz[0]) - pred
    size = _category(diff)
    code, ln = dc_codes[size]
    w.write(code, ln)
    if size:
        w.write(diff if diff >= 0 else diff + (1 << size) - 1, size)
    run = 0
    for k in range(1, 64):
        v = int(zz[k])
        if v == 0:
            run += 1
            continue
        while run >= 16:
            code, ln = ac_codes[0xF0]
            w.write(code, ln)
            run -= 16
        size = _category(v)
        code, ln = ac_codes[(run << 4) | size]
        w.write(code, ln)
        w.write(v if v >= 0 else v + (1 << size) - 1, size)
        run = 0
    if run:
        code, ln = ac_codes[0x00]
        w.write(code, ln)
    return int(zz[0])


def _dqt_segment(qtable: np.ndarray) -> bytes:
    """DQT marker segment for table 0, choosing precision from the
    values: Pq=0 (8-bit entries, length 67) when every quantizer fits a
    byte, Pq=1 (16-bit big-endian entries, length 131 — T.81 B.2.4.1)
    otherwise.  r7: closes the '16-bit quant tables unsupported' decoder
    boundary symmetrically (both encode and decode handle Pq=1)."""
    zz = qtable.reshape(-1)[_ZIGZAG]
    if int(zz.max()) <= 255:
        return b"\xff\xdb" + struct.pack(">HB", 67, 0x00) + zz.astype(
            np.uint8
        ).tobytes()
    if int(zz.max()) > 65535:
        raise ValueError("quantizer values must fit 16 bits")
    return b"\xff\xdb" + struct.pack(">HB", 131, 0x10) + zz.astype(
        ">u2"
    ).tobytes()


def fdct_quantize(
    block: np.ndarray, qtable: np.ndarray, precision: int = 8
) -> np.ndarray:
    """Level-shifted 8x8 sample block -> quantized int32 DCT coefficients.
    Level shift is ``2^(P-1)`` (T.81 A.3.1): 128 at 8-bit, 2048 at 12."""
    shifted = block.astype(np.float64) - float(1 << (precision - 1))
    coef = _DCT_C @ shifted @ _DCT_C.T
    return np.round(coef / qtable.astype(np.float64)).astype(np.int32)


def dequantize_idct(coefs: np.ndarray, qtable: np.ndarray) -> np.ndarray:
    """Quantized coefficients -> reconstructed 8x8 uint8 block."""
    coef = coefs.astype(np.float64) * qtable.astype(np.float64)
    block = _DCT_C.T @ coef @ _DCT_C
    return np.clip(np.round(block) + 128, 0, 255).astype(np.uint8)


def _px_dtype(precision: int):
    return np.uint8 if precision == 8 else np.uint16


def _rgb_to_ycbcr(rgb: np.ndarray, precision: int = 8) -> np.ndarray:
    center, maxv = float(1 << (precision - 1)), float((1 << precision) - 1)
    r, g, b = (rgb[..., i].astype(np.float64) for i in range(3))
    y = 0.299 * r + 0.587 * g + 0.114 * b
    cb = center - 0.168735892 * r - 0.331264108 * g + 0.5 * b
    cr = center + 0.5 * r - 0.418687589 * g - 0.081312411 * b
    return np.clip(np.round(np.stack([y, cb, cr], axis=-1)), 0, maxv).astype(
        _px_dtype(precision)
    )


def _ycbcr_to_rgb(ycc: np.ndarray, precision: int = 8) -> np.ndarray:
    center, maxv = float(1 << (precision - 1)), float((1 << precision) - 1)
    y, cb, cr = (ycc[..., i].astype(np.float64) for i in range(3))
    r = y + 1.402 * (cr - center)
    g = y - 0.344136286 * (cb - center) - 0.714136286 * (cr - center)
    b = y + 1.772 * (cb - center)
    return np.clip(np.round(np.stack([r, g, b], axis=-1)), 0, maxv).astype(
        _px_dtype(precision)
    )


def _jpeg_components(
    img: np.ndarray, subsampling: str, precision: int = 8
) -> list[tuple[np.ndarray, int, int]]:
    """Image -> [(plane, Hi, Vi)] component list: gray passthrough, or
    BT.601 YCbCr with chroma box-averaged per sampling cell ("444" no
    subsampling, "422" chroma halved horizontally, "420" halved both
    ways).  Shared by the baseline and progressive encoders."""
    factors = {"444": (1, 1), "422": (2, 1), "420": (2, 2)}
    if subsampling not in factors:
        raise ValueError(f"unknown subsampling {subsampling!r}")
    y_h, y_v = factors[subsampling]
    if img.ndim == 2:
        return [(img, 1, 1)]
    if img.ndim == 3 and img.shape[2] == 3:
        ycc = _rgb_to_ycbcr(img, precision)
        if subsampling == "444":
            return [(ycc[:, :, i], 1, 1) for i in range(3)]
        comps = [(ycc[:, :, 0], y_h, y_v)]
        for c in (1, 2):
            p = ycc[:, :, c].astype(np.float64)
            ph, pw = -p.shape[0] % y_v, -p.shape[1] % y_h
            p = np.pad(p, ((0, ph), (0, pw)), mode="edge")
            sub = p.reshape(
                p.shape[0] // y_v, y_v, p.shape[1] // y_h, y_h
            ).mean(axis=(1, 3))
            comps.append(
                (np.floor(sub + 0.5).astype(_px_dtype(precision)), 1, 1)
            )
        return comps
    raise ValueError("expected (h, w) gray or (h, w, 3) RGB uint8")


def encode_jpeg(
    img: np.ndarray,
    qtable: np.ndarray | None = None,
    restart_interval: int = 0,
    subsampling: str = "444",
    precision: int = 8,
) -> bytes:
    """(h, w) gray or (h, w, 3) RGB uint8 -> baseline JPEG bytes.
    ``precision=12`` emits EXTENDED SEQUENTIAL (SOF1) 12-bit JPEG
    (T.81 prohibits P=12 in baseline SOF0): samples 0..4095 (uint16
    input), level shift 2048, DC categories to 15 / AC to 14 via wider
    canonical Huffman tables.  Same scan structure otherwise.

    ``qtable`` — 8x8 quantization table (default all-ones: lossless for
    blocks whose DCT is exactly representable, e.g. constant blocks —
    the property the analytic oracle relies on).  Gray uses one table;
    RGB converts to YCbCr with the same table for all components.
    ``subsampling`` — "444" (no chroma subsampling), "422" (chroma
    halved horizontally, Y factors 2x1) or "420" (chroma halved both
    ways, Y factors 2x2); chroma is box-averaged over each 2x1 / 2x2
    cell, so constant-color regions stay exact and the analytic oracle
    still holds.  ``restart_interval`` > 0 emits a DRI segment and RSTn
    markers every that many MCUs (byte-aligned, DC predictors reset).
    """
    if precision not in (8, 12):
        raise ValueError("precision must be 8 or 12")
    if precision == 12 and int(np.max(img)) > 4095:
        raise ValueError("12-bit samples must be in 0..4095")
    if precision == 8 and img.dtype != np.uint8:
        raise ValueError("8-bit encode expects uint8 samples")
    if qtable is None:
        qtable = np.ones((8, 8), dtype=np.int32)
    qtable = qtable.astype(np.int32)
    comps = _jpeg_components(img, subsampling, precision)
    h, w = img.shape[:2]
    n_comp = len(comps)
    hmax = max(c[1] for c in comps)
    vmax = max(c[2] for c in comps)
    dc_bits, dc_vals, dc_codes = (
        (_DC_BITS, _DC_VALS, _DC_CODES) if precision == 8
        else (_DC12_BITS, _DC12_VALS, _DC12_CODES)
    )
    ac_bits, ac_vals, ac_codes = (
        (_AC_BITS, _AC_VALS, _AC_CODES) if precision == 8
        else (_AC12_BITS, _AC12_VALS, _AC12_CODES)
    )

    out = bytearray(b"\xff\xd8")  # SOI
    out += _dqt_segment(qtable)
    sof = struct.pack(">BHHB", precision, h, w, n_comp)
    for cid, (_, hi, vi) in enumerate(comps):
        sof += struct.pack(">BBB", cid + 1, (hi << 4) | vi, 0)
    # P=12 requires extended sequential (SOF1); P=8 stays baseline (SOF0)
    sof_marker = b"\xff\xc0" if precision == 8 else b"\xff\xc1"
    out += sof_marker + struct.pack(">H", 2 + len(sof)) + sof
    for tc, (bits, vals) in ((0, (dc_bits, dc_vals)), (1, (ac_bits, ac_vals))):
        body = bytes([tc << 4]) + bytes(bits[1:17]) + bytes(vals)
        out += b"\xff\xc4" + struct.pack(">H", 2 + len(body)) + body
    if restart_interval:
        out += b"\xff\xdd" + struct.pack(">HH", 4, restart_interval)
    sos = bytes([n_comp])
    for cid in range(n_comp):
        sos += bytes([cid + 1, 0x00])  # DC table 0, AC table 0
    sos += bytes([0, 63, 0])  # spectral selection (baseline fixed)
    out += b"\xff\xda" + struct.pack(">H", 2 + len(sos)) + sos

    # interleaved MCU walk, mirror of the decoder: Hi x Vi blocks per
    # component per MCU; each plane padded (edge mode) to full MCU coverage
    mcus_x = (w + 8 * hmax - 1) // (8 * hmax)
    mcus_y = (h + 8 * vmax - 1) // (8 * vmax)
    padded = [
        np.pad(
            p,
            (
                (0, mcus_y * vi * 8 - p.shape[0]),
                (0, mcus_x * hi * 8 - p.shape[1]),
            ),
            mode="edge",
        )
        for p, hi, vi in comps
    ]
    bw = _BitWriter()
    preds = [0] * n_comp
    mcu, rst = 0, 0
    for my in range(mcus_y):
        for mx in range(mcus_x):
            if restart_interval and mcu and mcu % restart_interval == 0:
                bw.flush()
                bw.out += bytes([0xFF, 0xD0 + rst % 8])
                rst += 1
                preds = [0] * n_comp
            for ci, (_, hi, vi) in enumerate(comps):
                for v in range(vi):
                    for hh in range(hi):
                        by, bx = (my * vi + v) * 8, (mx * hi + hh) * 8
                        coefs = fdct_quantize(
                            padded[ci][by : by + 8, bx : bx + 8], qtable,
                            precision,
                        )
                        preds[ci] = _encode_block(
                            bw, coefs, preds[ci], dc_codes, ac_codes
                        )
            mcu += 1
    assert mcu == mcus_x * mcus_y
    bw.flush()
    out += bw.out + b"\xff\xd9"  # EOI
    return bytes(out)


def _fdct_grid(
    plane: np.ndarray, qtable: np.ndarray, byn: int, bxn: int
) -> np.ndarray:
    """Edge-padded plane -> (byn, bxn, 64) zigzag-ordered quantized DCT
    coefficients — batched matmul form of the per-block
    :func:`fdct_quantize` walk (bit-identical per block)."""
    padded = np.pad(
        plane,
        ((0, byn * 8 - plane.shape[0]), (0, bxn * 8 - plane.shape[1])),
        mode="edge",
    )
    blocks = (
        padded.reshape(byn, 8, bxn, 8)
        .transpose(0, 2, 1, 3)
        .reshape(-1, 8, 8)
        .astype(np.float64)
        - 128.0
    )
    co = (_DCT_C @ blocks) @ _DCT_C.T
    q = np.round(co / qtable.astype(np.float64)).astype(np.int32)
    return q.reshape(-1, 64)[:, _ZIGZAG].reshape(byn, bxn, 64)


def _encode_dc_scan(
    bw: "_BitWriter",
    coef: list[np.ndarray],
    comps: list[tuple[np.ndarray, int, int]],
    cis: list[int],
    bdims: list[tuple[int, int]],
    mcus_x: int,
    mcus_y: int,
    ah: int,
    al: int,
) -> None:
    """Progressive DC scan: interleaved MCU walk when several components
    share the scan (incl. dummy padding blocks), the component's own
    block grid otherwise.  First pass (Ah=0) Huffman-codes diffs of the
    point-transformed DC (arithmetic shift right by Al — exactly inverted
    by the decoder's ``<< Al`` plus refinement bits, negatives included
    via two's complement); refinement passes emit raw bit Al per block."""
    preds = {ci: 0 for ci in cis}

    def emit(ci: int, by: int, bx: int) -> None:
        dc = int(coef[ci][by, bx, 0])
        if ah == 0:
            v = dc >> al
            diff = v - preds[ci]
            preds[ci] = v
            size = _category(diff)
            code, ln = _DC_CODES[size]
            bw.write(code, ln)
            if size:
                bw.write(diff if diff >= 0 else diff + (1 << size) - 1, size)
        else:
            bw.write((dc >> al) & 1, 1)

    if len(cis) > 1:
        for my in range(mcus_y):
            for mx in range(mcus_x):
                for ci in cis:
                    _, hi, vi = comps[ci]
                    for v in range(vi):
                        for hh in range(hi):
                            emit(ci, my * vi + v, mx * hi + hh)
    else:
        (ci,) = cis
        bh_, bw_ = bdims[ci]
        for by in range(bh_):
            for bx in range(bw_):
                emit(ci, by, bx)


def _emit_eobrun(bw: "_BitWriter", eobrun: int, bebits: list[int]) -> None:
    """Emit a pending EOBn symbol (+ extension bits) followed by the
    correction bits buffered for the blocks the run covers (T.81
    G.1.2.2-3)."""
    if eobrun:
        nbits = eobrun.bit_length() - 1
        code, ln = _PROG_AC_CODES[nbits << 4]
        bw.write(code, ln)
        if nbits:
            bw.write(eobrun & ((1 << nbits) - 1), nbits)
        for b in bebits:
            bw.write(b, 1)


def _encode_ac_first_scan(bw, blocks, ss: int, se: int, al: int) -> None:
    """Progressive AC first pass: point-transformed magnitudes
    (truncation toward zero by Al), zero runs with ZRL, end-of-block runs
    coalesced across blocks as EOBn."""
    eobrun = 0
    for zz in blocks:
        r = 0
        for k in range(ss, se + 1):
            v = int(zz[k])
            av = abs(v) >> al
            if av == 0:
                r += 1
                continue
            t = av if v >= 0 else -av
            if eobrun:
                _emit_eobrun(bw, eobrun, [])
                eobrun = 0
            while r > 15:
                code, ln = _PROG_AC_CODES[0xF0]
                bw.write(code, ln)
                r -= 16
            size = _category(t)
            code, ln = _PROG_AC_CODES[(r << 4) | size]
            bw.write(code, ln)
            bw.write(t if t >= 0 else t + (1 << size) - 1, size)
            r = 0
        if r:
            eobrun += 1
            if eobrun == 0x7FFF:
                _emit_eobrun(bw, eobrun, [])
                eobrun = 0
    _emit_eobrun(bw, eobrun, [])


def _encode_ac_refine_scan(bw, blocks, ss: int, se: int, al: int) -> None:
    """Progressive AC refinement pass: one correction bit per
    already-nonzero coefficient, (run, 1) symbols + sign bit for newly
    significant ones, correction bits buffered across ZRL/EOB runs so the
    decoder reads them in stream order (T.81 G.1.2.3)."""
    eobrun = 0
    bebits: list[int] = []  # corrections owed after the pending EOBn
    for zz in blocks:
        vals = [int(zz[k]) for k in range(ss, se + 1)]
        absval = [abs(v) >> al for v in vals]
        eob = -1  # index of the last newly-significant coefficient
        for i, t in enumerate(absval):
            if t == 1:
                eob = i
        r = 0
        br_bits: list[int] = []  # corrections since the last symbol
        for i, t in enumerate(absval):
            if t == 0:
                r += 1
                continue
            # ZRLs only when another symbol follows in this block;
            # otherwise the zero run folds into the EOB run
            while r > 15 and i <= eob:
                _emit_eobrun(bw, eobrun, bebits)
                eobrun, bebits = 0, []
                code, ln = _PROG_AC_CODES[0xF0]
                bw.write(code, ln)
                r -= 16
                for b in br_bits:
                    bw.write(b, 1)
                br_bits = []
            if t > 1:  # history coefficient: correction bit only
                br_bits.append(t & 1)
                continue
            # newly significant: flush pending EOB run, emit (r, 1) + sign
            _emit_eobrun(bw, eobrun, bebits)
            eobrun, bebits = 0, []
            code, ln = _PROG_AC_CODES[(r << 4) | 1]
            bw.write(code, ln)
            bw.write(1 if vals[i] >= 0 else 0, 1)
            for b in br_bits:
                bw.write(b, 1)
            br_bits = []
            r = 0
        if r > 0 or br_bits:
            eobrun += 1
            bebits.extend(br_bits)
            if eobrun == 0x7FFF:
                _emit_eobrun(bw, eobrun, bebits)
                eobrun, bebits = 0, []
    _emit_eobrun(bw, eobrun, bebits)


def encode_jpeg_progressive(
    img: np.ndarray,
    qtable: np.ndarray | None = None,
    subsampling: str = "444",
) -> bytes:
    """(h, w) gray or (h, w, 3) RGB uint8 -> progressive (SOF2) JPEG.

    Emits a libjpeg-style scan script over the same quantized
    coefficients the baseline encoder produces: interleaved DC first pass
    at Al=1, per-component spectral bands 1-5 and 6-63 at Al=1, AC
    refinement 1-63 down to Al=0, and a final DC refinement — so every
    progressive decode path (EOB runs, successive approximation,
    correction bits, non-interleaved geometry, dummy-block DC) is
    exercised.  The entropy layer is lossless over the quantized
    coefficients, so ``decode_jpeg(encode_jpeg_progressive(x, q, s)) ==
    decode_jpeg(encode_jpeg(x, q, s))`` bit-for-bit for ANY input — the
    invariant the roundtrip tests pin.  Restart intervals are a baseline-
    path feature; not emitted here."""
    if qtable is None:
        qtable = np.ones((8, 8), dtype=np.int32)
    qtable = qtable.astype(np.int32)
    comps = _jpeg_components(img, subsampling)
    h, w = img.shape[:2]
    n = len(comps)
    hmax = max(c[1] for c in comps)
    vmax = max(c[2] for c in comps)
    mcus_x = (w + 8 * hmax - 1) // (8 * hmax)
    mcus_y = (h + 8 * vmax - 1) // (8 * vmax)
    coef = [
        _fdct_grid(p, qtable, mcus_y * vi, mcus_x * hi)
        for p, hi, vi in comps
    ]
    bdims = []
    for _, hi, vi in comps:
        cw = (w * hi + hmax - 1) // hmax
        ch2 = (h * vi + vmax - 1) // vmax
        bdims.append(((ch2 + 7) // 8, (cw + 7) // 8))

    out = bytearray(b"\xff\xd8")  # SOI
    out += _dqt_segment(qtable)
    sof = struct.pack(">BHHB", 8, h, w, n)
    for cid, (_, hi, vi) in enumerate(comps):
        sof += struct.pack(">BBB", cid + 1, (hi << 4) | vi, 0)
    out += b"\xff\xc2" + struct.pack(">H", 2 + len(sof)) + sof  # SOF2
    for tc, (bits, vals) in (
        (0, (_DC_BITS, _DC_VALS)),
        (1, (_PROG_AC_BITS, _PROG_AC_VALS)),
    ):
        body = bytes([tc << 4]) + bytes(bits[1:17]) + bytes(vals)
        out += b"\xff\xc4" + struct.pack(">H", 2 + len(body)) + body

    scans: list[tuple[list[int], int, int, int, int]] = [
        (list(range(n)), 0, 0, 0, 1)
    ]
    for ci in range(n):
        scans.append(([ci], 1, 5, 0, 1))
        scans.append(([ci], 6, 63, 0, 1))
    for ci in range(n):
        scans.append(([ci], 1, 63, 1, 0))
    scans.append((list(range(n)), 0, 0, 1, 0))

    for cis, ss, se, ah, al in scans:
        sos = bytes([len(cis)])
        for ci in cis:
            sos += bytes([ci + 1, 0x00])
        sos += bytes([ss, se, (ah << 4) | al])
        out += b"\xff\xda" + struct.pack(">H", 2 + len(sos)) + sos
        bw = _BitWriter()
        if ss == 0:
            _encode_dc_scan(
                bw, coef, comps, cis, bdims, mcus_x, mcus_y, ah, al
            )
        else:
            (ci,) = cis
            bh_, bw_ = bdims[ci]
            blocks = (
                coef[ci][by, bx]
                for by in range(bh_)
                for bx in range(bw_)
            )
            if ah == 0:
                _encode_ac_first_scan(bw, blocks, ss, se, al)
            else:
                _encode_ac_refine_scan(bw, blocks, ss, se, al)
        bw.flush()
        out += bw.out
    out += b"\xff\xd9"  # EOI
    return bytes(out)


class _BitReader:
    def __init__(self, data: bytes) -> None:
        self.data = data
        self.pos = 0
        self._acc = 0
        self._n = 0

    def read_bit(self) -> int:
        if self._n == 0:
            if self.pos >= len(self.data):
                raise ValueError("entropy data exhausted")
            # caller already unstuffed FF00 -> FF, so every byte is data
            self._acc = self.data[self.pos]
            self.pos += 1
            self._n = 8
        self._n -= 1
        return (self._acc >> self._n) & 1

    def receive(self, n: int) -> int:
        v = 0
        for _ in range(n):
            v = (v << 1) | self.read_bit()
        return v


def _extend(v: int, size: int) -> int:
    """T.81 EXTEND: map the ``size``-bit magnitude bits to a signed value."""
    return v if v >= (1 << (size - 1)) else v - (1 << size) + 1


def _huff_decode(br: _BitReader, table: dict) -> int:
    code, length = 0, 0
    while length <= 16:
        code = (code << 1) | br.read_bit()
        length += 1
        sym = table.get((length, code))
        if sym is not None:
            return sym
    raise ValueError("invalid Huffman code in entropy data")


def _idct_blocks(
    zz: np.ndarray, qtable: np.ndarray, precision: int = 8
) -> np.ndarray:
    """Batched dequant + IDCT: (n, 64) zigzag-ordered quantized coefficient
    rows -> (n, 8, 8) uint8 (or uint16 at 12-bit) pixel blocks.  One
    broadcasted matmul pair over all blocks instead of a per-block Python
    loop; per-block arithmetic is the same left-associated
    ``C.T @ coef @ C`` as :func:`dequantize_idct`, so results are
    bit-identical to the scalar path."""
    nat = np.zeros((zz.shape[0], 64), dtype=np.float64)
    nat[:, _ZIGZAG] = zz
    nat *= qtable.astype(np.float64).reshape(-1)
    blocks = nat.reshape(-1, 8, 8)
    out = (_DCT_C.T @ blocks) @ _DCT_C
    return np.clip(
        np.round(out) + (1 << (precision - 1)), 0, (1 << precision) - 1
    ).astype(_px_dtype(precision))


def _decode_scan(
    entropy: bytes,
    body: bytes,
    frame: tuple,
    store: list[np.ndarray],
    hufftables: dict,
    restart_interval: int,
) -> int:
    """Decode one SOS entropy segment into the per-component zigzag
    coefficient ``store``; returns the number of payload bytes consumed.

    Handles all four T.81 scan kinds with one walk: baseline full-band
    (Ss=0..63, Ah=Al=0), progressive DC first/refine (Ss=Se=0), and
    progressive AC first/refine (Ss>0, single component, EOB runs +
    successive approximation per §G.2).  Interleaved scans (ns > 1) walk
    the MCU grid incl. dummy padding blocks; single-component scans walk
    the component's own ceil(samples/8) block grid (T.81 A.2.2).
    """
    h, w, comps, hmax, vmax, _progressive, _precision = frame
    ns = body[0]
    sel = []
    for i in range(ns):
        cs, tt = body[1 + 2 * i], body[2 + 2 * i]
        ci = next(
            (j for j, c in enumerate(comps) if c[0] == cs), None
        )
        if ci is None:
            raise ValueError(f"SOS references unknown component {cs}")
        sel.append((ci, tt >> 4, tt & 0xF))
    ss, se = body[1 + 2 * ns], body[2 + 2 * ns]
    ah, al = body[3 + 2 * ns] >> 4, body[3 + 2 * ns] & 0xF
    if ss > se or se > 63:
        raise ValueError(f"invalid spectral band {ss}..{se}")

    # entropy segment: unstuff FF00, split at RSTn, stop at any real marker
    data, restarts, i = bytearray(), [], 0
    while i < len(entropy):
        b = entropy[i]
        if b == 0xFF:
            nxt = entropy[i + 1] if i + 1 < len(entropy) else None
            if nxt == 0x00:
                data.append(0xFF)
                i += 2
                continue
            if nxt is not None and 0xD0 <= nxt <= 0xD7:
                restarts.append(len(data))
                i += 2
                continue
            break
        data.append(b)
        i += 1
    segments, prev = [], 0
    for r in restarts:
        segments.append(bytes(data[prev:r]))
        prev = r
    segments.append(bytes(data[prev:]))

    state = {"br": _BitReader(segments[0]), "seg": 0, "eobrun": 0}
    preds = [0] * len(comps)

    def maybe_restart(unit: int) -> None:
        if (
            restart_interval
            and unit
            and unit % restart_interval == 0
            and state["seg"] + 1 < len(segments)
        ):
            state["seg"] += 1
            state["br"] = _BitReader(segments[state["seg"]])
            state["eobrun"] = 0
            preds[:] = [0] * len(comps)

    def dc_first(zz: np.ndarray, ci: int, dc_t: int) -> None:
        br = state["br"]
        size = _huff_decode(br, hufftables[(0, dc_t)])
        diff = _extend(br.receive(size), size) if size else 0
        preds[ci] += diff
        zz[0] = preds[ci] << al

    def dc_refine(zz: np.ndarray) -> None:
        # one raw bit per block, OR'd into bit Al (works for negative DC
        # via two's complement, matching the encoder's arithmetic shift)
        if state["br"].read_bit():
            zz[0] = int(zz[0]) | (1 << al)

    def ac_first(zz: np.ndarray, ac_t: int) -> None:
        # T.81 G.2.2: EOBn ends the current block and skips the next
        # EOBRUN whole blocks; magnitudes arrive shifted left by Al
        if state["eobrun"] > 0:
            state["eobrun"] -= 1
            return
        br, table = state["br"], hufftables[(1, ac_t)]
        k = ss if ss > 0 else 1
        while k <= se:
            sym = _huff_decode(br, table)
            r, s = sym >> 4, sym & 0xF
            if s == 0:
                if r == 15:  # ZRL
                    k += 16
                    continue
                eobrun = (1 << r) - 1
                if r:
                    eobrun += br.receive(r)
                state["eobrun"] = eobrun
                break
            k += r
            if k > se:
                raise ValueError("AC run past end of band")
            zz[k] = _extend(br.receive(s), s) << al
            k += 1

    def ac_refine(zz: np.ndarray, ac_t: int) -> None:
        # T.81 G.2.3: newly-significant coefficients arrive as ±1<<Al;
        # every already-nonzero coefficient passed over (incl. inside
        # ZRL/EOB runs) carries one correction bit
        br, table = state["br"], hufftables[(1, ac_t)]
        p1, m1 = 1 << al, -1 << al

        def correct(k: int) -> None:
            if br.read_bit() and (int(zz[k]) & p1) == 0:
                zz[k] += p1 if zz[k] >= 0 else m1

        k = ss
        if state["eobrun"] == 0:
            while k <= se:
                sym = _huff_decode(br, table)
                r, s = sym >> 4, sym & 0xF
                if s == 0:
                    if r < 15:  # EOBn: corrections continue below
                        eobrun = 1 << r
                        if r:
                            eobrun += br.receive(r)
                        state["eobrun"] = eobrun
                        break
                    coef_new = 0  # ZRL: 16 zero-history positions
                elif s == 1:
                    coef_new = p1 if br.read_bit() else m1
                else:
                    raise ValueError("invalid AC refinement symbol")
                while k <= se:
                    if zz[k] != 0:
                        correct(k)
                    else:
                        if r == 0:
                            if coef_new:
                                zz[k] = coef_new
                            k += 1
                            break
                        r -= 1
                    k += 1
        if state["eobrun"] > 0:
            while k <= se:
                if zz[k] != 0:
                    correct(k)
                k += 1
            state["eobrun"] -= 1

    def decode_block(zz: np.ndarray, ci: int, dc_t: int, ac_t: int) -> None:
        if ss == 0:
            if ah == 0:
                dc_first(zz, ci, dc_t)
            else:
                dc_refine(zz)
        if se > 0:
            if ah == 0:
                ac_first(zz, ac_t)
            else:
                ac_refine(zz, ac_t)

    if ns > 1:  # interleaved: MCU grid incl. dummy blocks
        mcus_x = (w + 8 * hmax - 1) // (8 * hmax)
        mcus_y = (h + 8 * vmax - 1) // (8 * vmax)
        mcu = 0
        for my in range(mcus_y):
            for mx in range(mcus_x):
                maybe_restart(mcu)
                for ci, dc_t, ac_t in sel:
                    _, hi, vi, _ = comps[ci]
                    for v in range(vi):
                        for hh in range(hi):
                            decode_block(
                                store[ci][my * vi + v, mx * hi + hh],
                                ci,
                                dc_t,
                                ac_t,
                            )
                mcu += 1
    else:  # non-interleaved: the component's own block grid, no padding
        ci, dc_t, ac_t = sel[0]
        _, hi, vi, _ = comps[ci]
        bw_ = ((w * hi + hmax - 1) // hmax + 7) // 8
        bh_ = ((h * vi + vmax - 1) // vmax + 7) // 8
        unit = 0
        for by in range(bh_):
            for bx in range(bw_):
                maybe_restart(unit)
                decode_block(store[ci][by, bx], ci, dc_t, ac_t)
                unit += 1
    return i


def _reconstruct_jpeg(
    frame: tuple, store: list[np.ndarray], qtables: dict
) -> np.ndarray:
    """Coefficient store -> pixels: batched dequant/IDCT per component,
    plane assembly, crop to true sample dims, nearest-neighbor chroma
    replication, BT.601 conversion for 3-component images."""
    h, w, comps, hmax, vmax, _, precision = frame
    planes = []
    for ci, (_cid, hi, vi, tq) in enumerate(comps):
        byn, bxn, _ = store[ci].shape
        pix = _idct_blocks(store[ci].reshape(-1, 64), qtables[tq], precision)
        plane = (
            pix.reshape(byn, bxn, 8, 8)
            .transpose(0, 2, 1, 3)
            .reshape(byn * 8, bxn * 8)
        )
        ch = (h * vi + vmax - 1) // vmax
        cw = (w * hi + hmax - 1) // hmax
        p = plane[:ch, :cw]
        if hi != hmax or vi != vmax:
            p = np.repeat(
                np.repeat(p, vmax // vi, axis=0), hmax // hi, axis=1
            )
        planes.append(p[:h, :w])
    if len(planes) == 1:
        return planes[0].copy()
    if len(planes) == 3:
        return _ycbcr_to_rgb(np.stack(planes, axis=-1), precision)
    raise NotImplementedError(f"{len(planes)}-component JPEG")


def decode_jpeg(payload: bytes) -> np.ndarray:
    """JPEG bytes -> (h, w) gray or (h, w, 3) RGB; uint8 at 8-bit
    precision, uint16 (samples 0..4095) at 12-bit.

    Real decode covering the Huffman DCT modes: marker walk
    (DQT/DHT/SOF0/SOF1/SOF2/DRI/multi-SOS), byte unstuffing, Huffman + zigzag
    + dequantization + batched float IDCT, restart markers, interleaved
    MCUs with arbitrary integer sampling factors (4:4:4 / 4:2:2 / 4:2:0 /
    4:1:1 — chroma replicated up nearest-neighbor, libjpeg's "fancy
    upsampling off"), and **progressive** (SOF2) scan scripts per T.81
    Annex G: spectral selection, successive approximation (DC + AC first
    and refinement passes, EOB runs, correction bits), non-interleaved
    per-component block geometry.  Scans accumulate into per-component
    coefficient grids; reconstruction happens once at EOI.  12-bit
    precision is accepted for SOF1/SOF2 (level shift 2048, uint16 out);
    arithmetic coding, hierarchical, and lossless modes raise
    NotImplementedError (genuinely separate codec paths)."""
    if payload[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG payload (missing SOI)")
    pos = 2
    qtables: dict[int, np.ndarray] = {}
    hufftables: dict[tuple[int, int], dict] = {}
    frame = None
    store: list[np.ndarray] | None = None
    restart_interval = 0
    saw_scan = False
    while pos + 4 <= len(payload):
        if payload[pos] != 0xFF:
            raise ValueError(f"expected marker at offset {pos}")
        marker = payload[pos + 1]
        if marker == 0xD9:  # EOI
            break
        (seglen,) = struct.unpack_from(">H", payload, pos + 2)
        body = payload[pos + 4 : pos + 2 + seglen]
        pos += 2 + seglen
        if marker == 0xDB:  # DQT (possibly several tables per segment)
            off = 0
            while off < len(body):
                pq, tq = body[off] >> 4, body[off] & 0xF
                if pq not in (0, 1):
                    raise ValueError(f"bad DQT precision {pq}")
                tbl = np.zeros(64, dtype=np.int32)
                if pq:  # Pq=1: 16-bit big-endian entries (T.81 B.2.4.1)
                    tbl[_ZIGZAG] = np.frombuffer(
                        body, ">u2", 64, off + 1
                    ).astype(np.int32)
                else:
                    tbl[_ZIGZAG] = np.frombuffer(body, np.uint8, 64, off + 1)
                qtables[tq] = tbl.reshape(8, 8)
                off += 65 + 64 * pq
        elif marker == 0xC4:  # DHT
            off = 0
            while off < len(body):
                tc, th = body[off] >> 4, body[off] & 0xF
                counts = body[off + 1 : off + 17]
                vals = body[off + 17 : off + 17 + sum(counts)]
                table, code, vi = {}, 0, 0
                for length in range(1, 17):
                    for _ in range(counts[length - 1]):
                        table[(length, code)] = vals[vi]
                        code += 1
                        vi += 1
                    code <<= 1
                hufftables[(tc, th)] = table
                off += 17 + sum(counts)
        elif marker in (0xC0, 0xC1, 0xC2):
            # SOF0 baseline / SOF1 extended sequential / SOF2 progressive
            precision, h, w, n_comp = struct.unpack_from(">BHHB", body, 0)
            if precision not in (8, 12):
                raise NotImplementedError(
                    f"only 8/12-bit precision supported, got {precision}"
                )
            if precision == 12 and marker == 0xC0:
                raise ValueError("baseline SOF0 prohibits 12-bit precision")
            comps = []
            for i in range(n_comp):
                cid, hv, tq = struct.unpack_from(">BBB", body, 6 + 3 * i)
                hi, vi = hv >> 4, hv & 0xF
                if not (1 <= hi <= 4 and 1 <= vi <= 4):
                    raise ValueError(f"invalid sampling factors {hi}x{vi}")
                comps.append((cid, hi, vi, tq))
            hmax = max(c[1] for c in comps)
            vmax = max(c[2] for c in comps)
            for cid, hi, vi, _ in comps:
                if hmax % hi or vmax % vi:
                    # T.81 allows e.g. 3:2 ratios; integer-replication
                    # upsampling can't express them — reject loudly
                    raise NotImplementedError(
                        f"non-integer sampling ratio {hi}x{vi} vs "
                        f"{hmax}x{vmax} unsupported"
                    )
            frame = (h, w, comps, hmax, vmax, marker == 0xC2, precision)
            mcus_x = (w + 8 * hmax - 1) // (8 * hmax)
            mcus_y = (h + 8 * vmax - 1) // (8 * vmax)
            store = [
                np.zeros((mcus_y * vi, mcus_x * hi, 64), dtype=np.int32)
                for _, hi, vi, _ in comps
            ]
        elif marker in (0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB, 0xCC):
            raise NotImplementedError(
                "only baseline (SOF0), extended sequential (SOF1) and "
                "progressive (SOF2) Huffman DCT supported"
            )
        elif marker == 0xDD:  # DRI
            (restart_interval,) = struct.unpack_from(">H", body, 0)
        elif marker == 0xDA:  # SOS
            if frame is None or store is None:
                raise ValueError("SOS before SOF")
            pos += _decode_scan(
                payload[pos:], body, frame, store, hufftables,
                restart_interval,
            )
            saw_scan = True
        # APPn/COM and other segments: skipped
    if frame is None or store is None or not saw_scan:
        raise ValueError("no SOS segment found")
    return _reconstruct_jpeg(frame, store, qtables)


def encode_wav(samples: np.ndarray, channels: int = 1, rate: int = 8000) -> bytes:
    """int16 PCM samples (interleaved if multi-channel) -> RIFF/WAVE bytes."""
    data = samples.astype("<i2").tobytes()
    fmt = struct.pack(
        "<HHIIHH", 1, channels, rate, rate * channels * 2, channels * 2, 16
    )
    return (
        b"RIFF"
        + struct.pack("<I", 4 + 8 + len(fmt) + 8 + len(data))
        + b"WAVE"
        + b"fmt "
        + struct.pack("<I", len(fmt))
        + fmt
        + b"data"
        + struct.pack("<I", len(data))
        + data
    )


def decode_wav(payload: bytes) -> tuple[np.ndarray, int, int]:
    """RIFF/WAVE PCM-16 bytes -> (samples int16, channels, rate) via a
    proper chunk walk (tolerates extra chunks before/after ``data``)."""
    if payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE payload")
    pos, channels, rate, bits, data = 12, None, None, None, None
    while pos + 8 <= len(payload):
        cid = payload[pos : pos + 4]
        size = struct.unpack_from("<I", payload, pos + 4)[0]
        body = payload[pos + 8 : pos + 8 + size]
        if cid == b"fmt ":
            audio_fmt, channels, rate = struct.unpack_from("<HHI", body, 0)
            bits = struct.unpack_from("<H", body, 14)[0]
            if audio_fmt != 1 or bits != 16:
                raise NotImplementedError("only PCM-16 WAV supported")
        elif cid == b"data":
            data = body
        pos += 8 + size + (size % 2)  # chunks are word-aligned
    if channels is None or data is None:
        raise ValueError("missing fmt/data chunk")
    return np.frombuffer(data, dtype="<i2"), channels, rate


# ---------------------------------------------------------------------------
# GIF (GIF87a/89a): pure-Python LZW codec + NumPy frame assembly.
#
# Scope: single-frame decode (first image descriptor; later frames of an
# animation are ignored), global/local color tables, interlacing, the full
# variable-width LSB-first LZW with dictionary reset at 4096 — a genuinely
# different compression family from the repo's other codecs (JPEG's
# MSB-first Huffman/DCT, PNG's deflate).  Transparency (GCE flag) is
# ignored — pixels take their palette color.


def _lzw_encode_gif(indices: np.ndarray, min_code_size: int) -> bytes:
    """GIF-flavor LZW: variable code width starting min+1, LSB-first bit
    packing, CLEAR emitted on dictionary overflow (4096)."""
    clear = 1 << min_code_size
    eoi = clear + 1
    out = bytearray()
    acc = n = 0

    def emit(code: int, width: int) -> None:
        nonlocal acc, n
        acc |= code << n
        n += width
        while n >= 8:
            out.append(acc & 0xFF)
            acc >>= 8
            n -= 8

    width = min_code_size + 1
    table: dict[tuple, int] = {(i,): i for i in range(clear)}
    next_code = eoi + 1
    emit(clear, width)
    w: tuple = ()
    for k in map(int, indices):
        wk = w + (k,)
        if wk in table:
            w = wk
            continue
        emit(table[w], width)
        table[wk] = next_code
        # the decoder's next read must fit codes up to the one just
        # assigned — widen exactly when that code is the first to overflow
        if next_code == (1 << width) and width < 12:
            width += 1
        next_code += 1
        if next_code == 4096:  # dictionary full: reset both sides
            emit(clear, width)
            width = min_code_size + 1
            table = {(i,): i for i in range(clear)}
            next_code = eoi + 1
        w = (k,)
    if w:
        emit(table[w], width)
        if next_code == (1 << width) and width < 12:
            width += 1
        next_code += 1
    emit(eoi, width)
    if n:
        out.append(acc & 0xFF)
    return bytes(out)


def _lzw_decode_gif(data: bytes, min_code_size: int) -> list[int]:
    """Inverse of :func:`_lzw_encode_gif`, incl. the KwKwK self-reference
    case and deferred-clear tolerance (full dictionary, no reset)."""
    clear = 1 << min_code_size
    eoi = clear + 1
    pos = acc = n = 0

    def read(width: int) -> int:
        nonlocal pos, acc, n
        while n < width:
            if pos >= len(data):
                raise ValueError("LZW stream truncated")
            acc |= data[pos] << n
            pos += 1
            n += 8
        v = acc & ((1 << width) - 1)
        acc >>= width
        n -= width
        return v

    out: list[int] = []
    width = min_code_size + 1
    table: list[bytes] = [bytes([i]) for i in range(clear)] + [b"", b""]
    prev: bytes | None = None
    while True:
        code = read(width)
        if code == clear:
            width = min_code_size + 1
            table = [bytes([i]) for i in range(clear)] + [b"", b""]
            prev = None
            continue
        if code == eoi:
            return out
        if code < len(table) and code != eoi:
            entry = table[code]
        elif code == len(table) and prev is not None:
            entry = prev + prev[:1]  # KwKwK
        else:
            raise ValueError(f"invalid LZW code {code}")
        out.extend(entry)
        if prev is not None and len(table) < 4096:
            table.append(prev + entry[:1])
            if len(table) == (1 << width) and width < 12:
                width += 1
        prev = entry


_GIF_INTERLACE = ((0, 8), (4, 8), (2, 4), (1, 2))  # (start, step) passes


def encode_gif(
    indices: np.ndarray, palette: np.ndarray, interlace: bool = False
) -> bytes:
    """(h, w) uint8 palette indices + (n, 3) uint8 palette -> GIF89a bytes
    (global color table, one image, real LZW)."""
    h, w = indices.shape
    n = len(palette)
    bits = max(2, (n - 1).bit_length())  # GCT size field minimum is 2 colors
    gct = np.zeros((1 << bits, 3), dtype=np.uint8)
    gct[:n] = palette
    out = bytearray(b"GIF89a")
    out += struct.pack("<HHBBB", w, h, 0x80 | ((bits - 1) << 4) | (bits - 1), 0, 0)
    out += gct.tobytes()
    out += b"\x2c" + struct.pack("<HHHHB", 0, 0, w, h, 0x40 if interlace else 0)
    if interlace:
        rows = [r for start, step in _GIF_INTERLACE for r in range(start, h, step)]
        flat = indices[rows].reshape(-1)
    else:
        flat = indices.reshape(-1)
    min_code = max(2, bits)
    out.append(min_code)
    lzw = _lzw_encode_gif(flat, min_code)
    for i in range(0, len(lzw), 255):
        chunk = lzw[i : i + 255]
        out.append(len(chunk))
        out += chunk
    out += b"\x00\x3b"  # block terminator + trailer
    return bytes(out)


def decode_gif(payload: bytes) -> np.ndarray:
    """GIF bytes -> (h, w, 3) RGB uint8 (first frame)."""
    if payload[:6] not in (b"GIF87a", b"GIF89a"):
        raise ValueError("not a GIF payload (missing GIF87a/89a signature)")
    sw, sh, packed, _bg, _ar = struct.unpack_from("<HHBBB", payload, 6)
    pos = 13
    gct = None
    if packed & 0x80:
        size = 2 << (packed & 0x07)
        gct = np.frombuffer(payload, np.uint8, size * 3, pos).reshape(-1, 3)
        pos += size * 3
    while pos < len(payload):
        block = payload[pos]
        if block == 0x3B:  # trailer
            break
        if block == 0x21:  # extension: label + sub-blocks, skip
            pos += 2
            while payload[pos] != 0:
                pos += 1 + payload[pos]
            pos += 1
            continue
        if block != 0x2C:
            raise ValueError(f"unexpected GIF block 0x{block:02x}")
        left, top, w, h, ipacked = struct.unpack_from("<HHHHB", payload, pos + 1)
        pos += 10
        ct = gct
        if ipacked & 0x80:  # local color table overrides
            size = 2 << (ipacked & 0x07)
            ct = np.frombuffer(payload, np.uint8, size * 3, pos).reshape(-1, 3)
            pos += size * 3
        if ct is None:
            raise ValueError("GIF image has no color table")
        min_code = payload[pos]
        pos += 1
        data = bytearray()
        while payload[pos] != 0:
            ln = payload[pos]
            data += payload[pos + 1 : pos + 1 + ln]
            pos += 1 + ln
        pos += 1
        idx = _lzw_decode_gif(bytes(data), min_code)
        if len(idx) < w * h:
            raise ValueError("GIF pixel data short of descriptor dims")
        arr = np.array(idx[: w * h], dtype=np.int32).reshape(h, w)
        if ipacked & 0x40:  # de-interlace
            rows = [r for start, step in _GIF_INTERLACE for r in range(start, h, step)]
            out = np.empty_like(arr)
            out[rows] = arr
            arr = out
        if (arr >= len(ct)).any():
            raise ValueError("palette index out of range")
        return ct[arr]  # first frame only; animation frames ignored
    raise ValueError("no image descriptor in GIF")


def encode_gif_anim(
    screen_w: int,
    screen_h: int,
    palette: np.ndarray,
    frames: list,
    bg_index: int = 0,
) -> bytes:
    """Multi-frame GIF89a encoder (global color table, per-frame Graphic
    Control Extensions): ``frames`` is a list of
    ``(left, top, indices, disposal, transparent_idx)`` tuples — each a
    palette-index sub-rectangle painted at (left, top), ``disposal`` the
    GIF89a method applied AFTER the frame displays (0/1 leave, 2 restore
    the rect to the background color, 3 restore to the previous canvas),
    ``transparent_idx`` an index whose pixels leave the canvas unchanged
    (None = opaque).  Same real-LZW path as :func:`encode_gif`."""
    n = len(palette)
    bits = max(2, (n - 1).bit_length())
    gct = np.zeros((1 << bits, 3), dtype=np.uint8)
    gct[:n] = palette
    out = bytearray(b"GIF89a")
    out += struct.pack(
        "<HHBBB",
        screen_w,
        screen_h,
        0x80 | ((bits - 1) << 4) | (bits - 1),
        bg_index,
        0,
    )
    out += gct.tobytes()
    min_code = max(2, bits)
    for left, top, indices, disposal, trans in frames:
        h, w = indices.shape
        packed = (disposal & 0x07) << 2 | (0 if trans is None else 1)
        out += b"\x21\xf9\x04" + bytes(
            [packed, 0, 0, 0 if trans is None else trans]
        ) + b"\x00"
        out += b"\x2c" + struct.pack("<HHHHB", left, top, w, h, 0)
        out.append(min_code)
        lzw = _lzw_encode_gif(indices.reshape(-1), min_code)
        for i in range(0, len(lzw), 255):
            chunk = lzw[i : i + 255]
            out.append(len(chunk))
            out += chunk
        out += b"\x00"
    out += b"\x3b"
    return bytes(out)


def decode_gif_frames(payload: bytes) -> list[np.ndarray]:
    """GIF bytes -> [(h, w, 3) RGB canvas per displayed frame] with FULL
    GIF89a animation semantics: the logical-screen canvas starts as the
    background color (documented discipline — the spec's background
    semantics; some browsers render it transparent instead), each image
    descriptor composites its sub-rectangle (transparent-index pixels
    leave the canvas untouched), the post-display disposal method then
    runs — 0/1 leave, 2 restore the RECT to the background color, 3
    restore the rect to the canvas as it was before the frame drew.
    Interlaced frames and local color tables are honored per frame."""
    if payload[:6] not in (b"GIF87a", b"GIF89a"):
        raise ValueError("not a GIF payload (missing GIF87a/89a signature)")

    def _need(upto: int) -> None:
        # Parse-error discipline (matches parse_avi_meta): a byte stream
        # ending mid-structure must fail with a ValueError the decode UDF
        # surfaces as a typed reject, not an IndexError/struct.error
        # inside a Spark task.
        if upto > len(payload):
            raise ValueError("truncated GIF")

    _need(13)
    sw, sh, packed, bg, _ar = struct.unpack_from("<HHBBB", payload, 6)
    pos = 13
    gct = None
    if packed & 0x80:
        size = 2 << (packed & 0x07)
        _need(pos + size * 3)
        gct = np.frombuffer(payload, np.uint8, size * 3, pos).reshape(-1, 3)
        pos += size * 3
    bg_rgb = (
        gct[bg] if gct is not None and bg < len(gct) else np.zeros(3, np.uint8)
    )
    canvas = np.broadcast_to(bg_rgb, (sh, sw, 3)).copy()
    frames: list[np.ndarray] = []
    disposal, trans = 0, None
    while pos < len(payload):
        block = payload[pos]
        if block == 0x3B:
            break
        if block == 0x21:
            _need(pos + 2)
            label = payload[pos + 1]
            pos += 2
            if label == 0xF9:  # Graphic Control Extension
                _need(pos + 5)
                gp = payload[pos + 1]
                disposal = (gp >> 2) & 0x07
                trans = payload[pos + 4] if gp & 0x01 else None
            _need(pos + 1)
            while payload[pos] != 0:
                pos += 1 + payload[pos]
                _need(pos + 1)
            pos += 1
            continue
        if block != 0x2C:
            raise ValueError(f"unexpected GIF block 0x{block:02x}")
        _need(pos + 10)
        left, top, w, h, ipacked = struct.unpack_from("<HHHHB", payload, pos + 1)
        pos += 10
        ct = gct
        if ipacked & 0x80:
            size = 2 << (ipacked & 0x07)
            _need(pos + size * 3)
            ct = np.frombuffer(payload, np.uint8, size * 3, pos).reshape(-1, 3)
            pos += size * 3
        if ct is None:
            raise ValueError("GIF image has no color table")
        _need(pos + 1)
        min_code = payload[pos]
        pos += 1
        data = bytearray()
        _need(pos + 1)
        while payload[pos] != 0:
            ln = payload[pos]
            _need(pos + 1 + ln)
            data += payload[pos + 1 : pos + 1 + ln]
            pos += 1 + ln
            _need(pos + 1)
        pos += 1
        idx = _lzw_decode_gif(bytes(data), min_code)
        if len(idx) < w * h:
            raise ValueError("GIF pixel data short of descriptor dims")
        arr = np.array(idx[: w * h], dtype=np.int32).reshape(h, w)
        if ipacked & 0x40:
            rows = [
                r for start, step in _GIF_INTERLACE for r in range(start, h, step)
            ]
            out = np.empty_like(arr)
            out[rows] = arr
            arr = out
        if (arr >= len(ct)).any():
            raise ValueError("palette index out of range")
        if top + h > sh or left + w > sw:
            raise ValueError("GIF frame rect outside the logical screen")
        before = canvas[top : top + h, left : left + w].copy()
        rect = ct[arr]
        if trans is not None:
            keep = arr == trans
            rect = np.where(keep[:, :, None], before, rect)
        canvas[top : top + h, left : left + w] = rect
        frames.append(canvas.copy())
        if disposal == 2:
            canvas[top : top + h, left : left + w] = bg_rgb
        elif disposal == 3:
            canvas[top : top + h, left : left + w] = before
        disposal, trans = 0, None
    if not frames:
        raise ValueError("no image descriptor in GIF")
    return frames


GIF_FRAMES_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("frame_idx", T.IntegerType()),
        T.StructField("n_frames", T.IntegerType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("sum_vals", T.LongType()),
        T.StructField("first_r", T.IntegerType()),
    ]
)


def gif_frames(df: DataFrame, every_n: int = 1) -> DataFrame:
    """Animated-GIF frame extraction + sampling: one output row per
    sampled DISPLAYED frame (full disposal-composited canvas, not the raw
    sub-rectangle) with decoded pixel stats — the GIF counterpart of
    ``video_frames``.  Arrow-batched ``mapInPandas``; map-only at any
    scale (each payload composites where it lives, no shuffle)."""

    def row(mid, payload):
        canvases = decode_gif_frames(bytes(payload))
        nf = len(canvases)
        for idx, img in enumerate(canvases):
            if idx % every_n:
                continue
            yield (
                int(mid), idx, nf, img.shape[1], img.shape[0],
                int(img.astype(np.int64).sum()),
                int(img[0, 0, 0]),
            )

    return _map_rows(df, ["media_id", "content"], GIF_FRAMES_SCHEMA, row)


def synthetic_gif_anim_media(df: DataFrame, id_col: str) -> DataFrame:
    """Deterministic ANIMATED GIFs from an id column (test/oracle
    harness): logical screen 16x10, 8-color analytic palette
    ``pal[i] = ((i*31)%256, (i*57+11)%256, (i*89+7)%256)``, background
    index ``id % 8``; frame 0 paints the full screen with
    ``idx(x, y) = (x + y + id) % 8``, then ``1 + id % 3`` sub-frames
    f = 1.. paint NON-OVERLAPPING 4x3 rects at
    ``left = 4*(f-1), top = (id + f) % 7`` with
    ``idx = (x_local + 2*y_local + f + id) % 8``, disposal cycling
    ``1 + (id + f) % 3`` (leave / restore-background /
    restore-previous) and a transparent index 7 on odd ``id + f``.

    Non-overlap is the analytic trick: the canvas under any sub-rect is
    ALWAYS frame 0's content, so the displayed canvas at frame F has the
    closed form the SQL oracle replays — rect_F's own pixels (minus
    transparent ones), each EARLIER rect persisted / background /
    restored-to-base by its disposal method, base elsewhere — no
    sequential state needed."""

    i = np.arange(8)
    pal = np.stack(
        [(i * 31) % 256, (i * 57 + 11) % 256, (i * 89 + 7) % 256], axis=1
    ).astype(np.uint8)

    def row(mid):
        mid = int(mid)
        y, x = np.ogrid[0:10, 0:16]
        base = ((x + y + mid) % 8).astype(np.uint8)
        frames = [(0, 0, base, 1, None)]
        for f in range(1, 2 + mid % 3):
            yl, xl = np.ogrid[0:3, 0:4]
            rect = ((xl + 2 * yl + f + mid) % 8).astype(np.uint8)
            frames.append(
                (
                    4 * (f - 1),
                    (mid + f) % 7,
                    rect,
                    1 + (mid + f) % 3,
                    7 if (mid + f) % 2 else None,
                )
            )
        yield mid, encode_gif_anim(16, 10, pal, frames, bg_index=mid % 8)

    return _map_rows(df, [id_col], _SYNTH_SCHEMA, row)


# ---------------------------------------------------------------------------
# MP4 / ISO BMFF (ISO 14496-12): container-structure parsing, no codec.
#
# Frame DECODE genuinely needs codec libraries (the documented
# ``NotImplementedError`` boundary), but the container METADATA a curation
# pipeline filters on — duration, resolution, codec fourcc, track count —
# is a pure box walk this module does for real: length-prefixed nested
# boxes, 64-bit largesize, version-dependent mvhd layouts, 16.16
# fixed-point track dims.


def _mp4_box(t: bytes, body: bytes) -> bytes:
    return struct.pack(">I", 8 + len(body)) + t + body


def encode_mp4_meta(
    duration: int,
    timescale: int,
    width: int,
    height: int,
    codec: bytes = b"avc1",
) -> bytes:
    """Minimal well-formed single-video-track MP4 (ftyp with brand
    ``isom`` + moov tree + a stub mdat) — the fixture side of the
    metadata parser."""
    ftyp = _mp4_box(b"ftyp", b"isom" + struct.pack(">I", 0x200) + b"isomiso2")
    vf = b"\x00\x00\x00\x00"
    unity = struct.pack(
        ">9I", 0x10000, 0, 0, 0, 0x10000, 0, 0, 0, 0x40000000
    )
    mvhd = _mp4_box(
        b"mvhd",
        vf
        + struct.pack(">IIII", 0, 0, timescale, duration)
        + struct.pack(">I", 0x00010000)
        + struct.pack(">H", 0x0100)
        + b"\x00" * 10
        + unity
        + b"\x00" * 24
        + struct.pack(">I", 2),
    )
    tkhd = _mp4_box(
        b"tkhd",
        b"\x00\x00\x00\x07"
        + struct.pack(">IIIII", 0, 0, 1, 0, duration)
        + b"\x00" * 8
        + struct.pack(">HHHH", 0, 0, 0, 0)
        + unity
        + struct.pack(">II", width << 16, height << 16),
    )
    mdhd = _mp4_box(
        b"mdhd",
        vf + struct.pack(">IIII", 0, 0, timescale, duration)
        + struct.pack(">HH", 0x55C4, 0),
    )
    hdlr = _mp4_box(
        b"hdlr", vf + b"\x00" * 4 + b"vide" + b"\x00" * 12 + b"VideoHandler\x00"
    )
    entry = _mp4_box(codec, b"\x00" * 78)  # sample-entry stub (fourcc only)
    stsd = _mp4_box(b"stsd", vf + struct.pack(">I", 1) + entry)
    mdia = _mp4_box(b"mdia", mdhd + hdlr + _mp4_box(b"minf", _mp4_box(b"stbl", stsd)))
    moov = _mp4_box(b"moov", mvhd + _mp4_box(b"trak", tkhd + mdia))
    return ftyp + moov + _mp4_box(b"mdat", b"\x00" * 16)


_MP4_CONTAINERS = {b"moov", b"trak", b"mdia", b"minf", b"stbl"}


def parse_mp4_meta(payload: bytes) -> dict:
    """ISO BMFF box walk -> {brand, timescale, duration, n_tracks, width,
    height, codec}.  Handles nested containers, 64-bit largesize,
    size==0 (to end of enclosing box), mvhd v0/v1, 16.16 track dims;
    first video track wins for dims/codec."""
    if len(payload) < 12 or payload[4:8] != b"ftyp":
        raise ValueError("not an ISO BMFF payload (missing ftyp)")
    out = {
        "brand": payload[8:12].decode("ascii", "replace"),
        "timescale": None,
        "duration": None,
        "n_tracks": 0,
        "width": None,
        "height": None,
        "codec": None,
    }

    def walk(buf: bytes, pos: int, end: int) -> None:
        while pos + 8 <= end:
            (size,) = struct.unpack_from(">I", buf, pos)
            btype = buf[pos + 4 : pos + 8]
            hdr = 8
            if size == 1:  # 64-bit largesize
                (size,) = struct.unpack_from(">Q", buf, pos + 8)
                hdr = 16
            elif size == 0:  # extends to end of enclosing box
                size = end - pos
            if size < hdr or pos + size > end:
                raise ValueError(f"corrupt box {btype!r} at offset {pos}")
            body = pos + hdr
            if btype in _MP4_CONTAINERS:
                walk(buf, body, pos + size)
            elif btype == b"mvhd":
                ver = buf[body]
                if ver == 1:
                    ts, dur = struct.unpack_from(">IQ", buf, body + 4 + 16)
                else:
                    ts, dur = struct.unpack_from(">II", buf, body + 4 + 8)
                out["timescale"], out["duration"] = ts, dur
            elif btype == b"tkhd":
                out["n_tracks"] += 1
                w, h = struct.unpack_from(">II", buf, pos + size - 8)
                if w and h and out["width"] is None:
                    out["width"], out["height"] = w >> 16, h >> 16
            elif btype == b"stsd" and out["codec"] is None and size >= 24:
                out["codec"] = buf[body + 12 : body + 16].decode(
                    "ascii", "replace"
                )
            pos += size

    walk(payload, 0, len(payload))
    if out["timescale"] is None:
        raise ValueError("no mvhd box found")
    return out


def mp4_meta(df: DataFrame) -> DataFrame:
    """Arrow-batched container-metadata extraction over binary payloads:
    (media_id, brand, codec, n_tracks, width, height, duration_ms).
    Map-only at any scale — same plumbing contract as ``decode_media``."""

    def row(mid, payload):
        m = parse_mp4_meta(bytes(payload))
        yield (
            int(mid),
            m["brand"],
            m["codec"],
            m["n_tracks"],
            m["width"],
            m["height"],
            # integer-exact ms (floor) — oracle-replayable
            m["duration"] * 1000 // m["timescale"],
        )

    schema = T.StructType(
        [
            T.StructField("media_id", T.LongType()),
            T.StructField("brand", T.StringType()),
            T.StructField("codec", T.StringType()),
            T.StructField("n_tracks", T.IntegerType()),
            T.StructField("width", T.IntegerType()),
            T.StructField("height", T.IntegerType()),
            T.StructField("duration_ms", T.LongType()),
        ]
    )
    return _map_rows(df, ["media_id", "content"], schema, row)


def synthetic_mp4_media(df: DataFrame, id_col: str) -> DataFrame:
    """Deterministic MP4 payloads from an id column: duration
    ``1000 + 37*id`` ticks at timescale 600, dims ``(320 + 16*(id%4)) x
    (240 + 16*(id%3))``, codec avc1/hvc1 alternating by id parity."""

    def row(mid):
        mid = int(mid)
        yield mid, encode_mp4_meta(
            duration=1000 + 37 * mid,
            timescale=600,
            width=320 + 16 * (mid % 4),
            height=240 + 16 * (mid % 3),
            codec=b"avc1" if mid % 2 == 0 else b"hvc1",
        )

    return _map_rows(df, [id_col], _SYNTH_SCHEMA, row)


# ---------------------------------------------------------------------------
# AVI (RIFF) container with MJPEG video: the r7 "video frame decode"
# boundary turned into a real capability with ZERO new codec math — a
# stdlib-struct RIFF chunk walk (same style as the MP4 box walk above)
# whose '00dc' frame chunks are complete JPEG streams fed to the existing
# ``decode_jpeg``.  Reference parity: the reference pipeline has no video
# path at all (SURVEY.md §2); this extends the multimodal surface a
# 100 TB training-data pipeline needs (frame sampling for vision-LM data).


def _riff_chunk(fourcc: bytes, body: bytes) -> bytes:
    # RIFF chunks are word-aligned: odd-length bodies take a pad byte
    # that is NOT counted in the stored size
    pad = b"\x00" if len(body) % 2 else b""
    return fourcc + struct.pack("<I", len(body)) + body + pad


def _riff_list(list_type: bytes, body: bytes) -> bytes:
    return _riff_chunk(b"LIST", list_type + body)


def encode_avi_mjpeg(frames: list, fps: int = 10) -> bytes:
    """Grayscale/RGB uint8 frames (same shape) -> MJPEG-in-AVI bytes.

    Emits the canonical RIFF layout: ``hdrl`` (``avih`` main header +
    one ``strl`` with a 'vids'/'MJPG' ``strh`` and a BITMAPINFOHEADER
    ``strf``), a ``movi`` LIST of ``00dc`` chunks each holding one
    complete baseline-JPEG stream from :func:`encode_jpeg`, and an
    ``idx1`` keyframe index with offsets relative to the ``movi``
    list-type fourcc (the convention AVI readers expect)."""
    assert frames, "need at least one frame"
    h, w = frames[0].shape[:2]
    assert all(f.shape == frames[0].shape for f in frames)
    jpegs = [encode_jpeg(f) for f in frames]
    movi_body = bytearray()
    index = []
    for j in jpegs:
        # offset counted from the 'movi' fourcc: +4 skips the fourcc
        index.append((4 + len(movi_body), len(j)))
        movi_body += _riff_chunk(b"00dc", j)
    idx1 = b"".join(
        b"00dc" + struct.pack("<III", 0x10, off, size)  # AVIIF_KEYFRAME
        for off, size in index
    )
    n = len(jpegs)
    avih = struct.pack(
        "<IIIIIIIIII4I",
        1_000_000 // fps, 0, 0, 0x10,  # usec/frame, maxbps, pad, HASINDEX
        n, 0, 1, max(map(len, jpegs)), w, h, 0, 0, 0, 0,
    )
    strh = (
        b"vidsMJPG"
        + struct.pack(
            "<IHHIIIIIIII", 0, 0, 0, 0, 1, fps, 0, n,
            max(map(len, jpegs)), 0, 0,
        )
        + struct.pack("<4h", 0, 0, w, h)
    )
    strf = struct.pack(
        "<IiiHH4sIiiII", 40, w, h, 1, 24, b"MJPG", w * h * 3, 0, 0, 0, 0
    )
    hdrl = _riff_list(
        b"hdrl",
        _riff_chunk(b"avih", avih)
        + _riff_list(b"strl", _riff_chunk(b"strh", strh) + _riff_chunk(b"strf", strf)),
    )
    body = hdrl + _riff_list(b"movi", bytes(movi_body)) + _riff_chunk(b"idx1", idx1)
    return b"RIFF" + struct.pack("<I", 4 + len(body)) + b"AVI " + body


def _riff_walk(payload: bytes, start: int, end: int):
    """Yield (fourcc, list_type|None, body_start, body_end) over a chunk
    span; advances past pad bytes."""
    pos = start
    while pos + 8 <= end:
        fourcc = payload[pos : pos + 4]
        size = struct.unpack_from("<I", payload, pos + 4)[0]
        body_start = pos + 8
        body_end = body_start + size
        if body_end > end:
            raise ValueError(f"RIFF chunk at {pos} overruns its parent")
        if fourcc == b"LIST":
            yield fourcc, payload[body_start : body_start + 4], body_start + 4, body_end
        else:
            yield fourcc, None, body_start, body_end
        pos = body_end + (size % 2)  # word alignment


def parse_avi_meta(payload: bytes) -> dict:
    """AVI bytes -> {codec, fps, n_frames, width, height, has_index,
    n_chunks} via the header chunks (not by counting frames)."""
    if payload[:4] != b"RIFF" or payload[8:12] != b"AVI ":
        raise ValueError("not an AVI payload")
    meta = {"has_index": False, "n_chunks": 0}
    for fourcc, ltype, s, e in _riff_walk(payload, 12, len(payload)):
        if fourcc == b"LIST" and ltype == b"hdrl":
            for f2, l2, s2, e2 in _riff_walk(payload, s, e):
                if f2 == b"avih":
                    (usec, _, _, _, total, _, _, _, w, h) = struct.unpack_from(
                        "<IIIIIIIIII", payload, s2
                    )
                    meta.update(n_frames=total, width=w, height=h)
                elif f2 == b"LIST" and l2 == b"strl":
                    for f3, _, s3, _ in _riff_walk(payload, s2, e2):
                        if f3 == b"strh" and payload[s3 : s3 + 4] == b"vids":
                            meta["codec"] = payload[s3 + 4 : s3 + 8].decode("ascii")
                            scale, rate = struct.unpack_from("<II", payload, s3 + 20)
                            meta["fps"] = rate // max(scale, 1)
        elif fourcc == b"LIST" and ltype == b"movi":
            meta["n_chunks"] = sum(
                1 for f2, _, _, _ in _riff_walk(payload, s, e) if f2.endswith(b"dc")
            )
        elif fourcc == b"idx1":
            meta["has_index"] = True
    if "codec" not in meta:
        raise ValueError("no video stream header found")
    if "n_frames" not in meta:
        # consumers (video_frames) index n_frames/width/height
        # unconditionally; a structurally-valid AVI missing its avih
        # header must fail with a parse error, not a KeyError inside a
        # Spark task
        raise ValueError("no avih main header found")
    return meta


#: fourcc -> decoder(payload: bytes, every_n: int) -> [(frame_idx, ndarray)].
#: The wrap-an-external-decoder seam for codecs this repo deliberately does
#: not implement (H.264 etc. — COVERAGE.md decision note): a deployment
#: registers its ffmpeg/hardware wrapper here and every downstream operator
#: (video_frames, frame dHash, near-dup, incremental) works unchanged,
#: because registered output is validated against the SAME row contract the
#: MJPEG path honors (``_enforce_frame_contract``).  Empty by default, so
#: unknown codecs stay a loud typed reject.  NOTE: register at MODULE
#: IMPORT time (a package both driver and executors import) — Spark's
#: Python workers re-import this module per process, so a driver-only
#: runtime mutation is not visible inside mapInPandas tasks.
EXTERNAL_VIDEO_DECODERS: dict = {}


def _enforce_frame_contract(frames, every_n: int, codec: str) -> list:
    """Validate an external decoder's output against the decode_avi_frames
    row contract: a list of (int frame_idx, 2-D/3-D uint8 ndarray) with
    strictly ascending indices, each divisible by ``every_n``.  Raises
    TypeError/ValueError naming the codec, so a misbehaving wrapper fails
    at the decode step with a diagnosable error instead of corrupting
    downstream frame stats.  Returns a NORMALIZED copy — numpy integer
    indices (np.intp/np.int64, accepted per numbers.Integral) are coerced
    to plain int so downstream Arrow conversion sees one index type."""
    if not isinstance(frames, list):
        raise TypeError(
            f"external {codec!r} decoder must return a list, "
            f"got {type(frames).__name__}"
        )
    prev = -1
    normalized: list = []
    for item in frames:
        if not (isinstance(item, tuple) and len(item) == 2):
            raise TypeError(
                f"external {codec!r} decoder rows must be "
                f"(frame_idx, ndarray) tuples, got {item!r}"
            )
        idx, img = item
        # numbers.Integral admits np.intp/np.int64 — the natural index
        # type out of real decoder wrappers — while bool (an int subclass
        # Python would otherwise wave through) stays a typed reject.
        if (
            isinstance(idx, bool)
            or not isinstance(idx, numbers.Integral)
            or not isinstance(img, np.ndarray)
        ):
            raise TypeError(
                f"external {codec!r} decoder row types must be "
                f"(int, ndarray), got ({type(idx).__name__}, "
                f"{type(img).__name__})"
            )
        idx = int(idx)
        if img.dtype != np.uint8 or img.ndim not in (2, 3):
            raise ValueError(
                f"external {codec!r} decoder frames must be 2-D/3-D "
                f"uint8 arrays, got ndim={img.ndim} dtype={img.dtype}"
            )
        if idx <= prev:
            raise ValueError(
                f"external {codec!r} decoder frame indices must be "
                f"strictly ascending, got {idx} after {prev}"
            )
        if idx % every_n:
            raise ValueError(
                f"external {codec!r} decoder returned frame {idx} not on "
                f"the every_n={every_n} sampling grid"
            )
        prev = idx
        normalized.append((idx, img))
    return normalized


def decode_avi_frames(payload: bytes, every_n: int = 1) -> list:
    """AVI bytes -> [(frame_idx, ndarray)] for every ``every_n``-th
    MJPEG frame.  Only 'MJPG' streams are decodable in-repo (each
    ``00dc`` chunk is a standalone JPEG); any other codec is routed to a
    registered :data:`EXTERNAL_VIDEO_DECODERS` wrapper (output validated
    against this function's row contract) or raises NotImplementedError
    — the documented codec boundary."""
    meta = parse_avi_meta(payload)
    if meta["codec"] != "MJPG":
        external = EXTERNAL_VIDEO_DECODERS.get(meta["codec"])
        if external is None:
            raise NotImplementedError(
                f"only MJPEG AVI frames are decodable, got {meta['codec']!r}"
            )
        return _enforce_frame_contract(
            external(payload, every_n), every_n, meta["codec"]
        )
    out = []
    for fourcc, ltype, s, e in _riff_walk(payload, 12, len(payload)):
        if fourcc == b"LIST" and ltype == b"movi":
            idx = 0
            for f2, _, s2, e2 in _riff_walk(payload, s, e):
                if f2.endswith(b"dc"):
                    if idx % every_n == 0:
                        out.append((idx, decode_jpeg(payload[s2:e2])))
                    idx += 1
    return out


VIDEO_FRAMES_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("frame_idx", T.IntegerType()),
        T.StructField("n_frames", T.IntegerType()),
        T.StructField("fps", T.IntegerType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("sum_vals", T.LongType()),
        T.StructField("first_px", T.IntegerType()),
    ]
)


def video_frames(df: DataFrame, every_n: int = 1) -> DataFrame:
    """MJPEG-in-AVI frame extraction + sampling: one output row per
    sampled frame with decoded pixel stats — the vision-LM training-data
    primitive (sample every Nth frame of each clip).  Arrow-batched
    ``mapInPandas``; map-only at any scale (each payload is decoded
    where it lives, no shuffle; output rows ≈ frames/every_n)."""

    def row(mid, payload):
        payload = bytes(payload)
        meta = parse_avi_meta(payload)
        for idx, img in decode_avi_frames(payload, every_n):
            first = img[(0,) * img.ndim]
            yield (
                int(mid), idx, meta["n_frames"], meta["fps"],
                img.shape[1], img.shape[0],
                int(img.astype(np.int64).sum()), int(first),
            )

    return _map_rows(df, ["media_id", "content"], VIDEO_FRAMES_SCHEMA, row)


def synthetic_avi_media(df: DataFrame, id_col: str) -> DataFrame:
    """Deterministic MJPEG AVIs from an id column: ``3 + id % 4`` frames
    at ``5 + id % 3`` fps, frame f a block-constant grayscale image of
    ``1 + id % 2`` x 1 8px blocks with value
    ``(id + 31*f + 17*bx) % 256`` — exact through the all-ones-qtable
    JPEG path, so frame pixels are analytically predictable."""

    def row(mid):
        mid = int(mid)
        wb = 1 + mid % 2
        frames = []
        for f in range(3 + mid % 4):
            bx = np.arange(wb)
            blocks = ((mid + 31 * f + 17 * bx) % 256).astype(np.uint8)
            frames.append(np.kron(blocks[None, :], np.ones((8, 8), np.uint8)))
        yield mid, encode_avi_mjpeg(frames, fps=5 + mid % 3)

    return _map_rows(df, [id_col], _SYNTH_SCHEMA, row)


# ---------------------------------------------------------------------------
# EXIF (JPEG APP1 / TIFF 6.0 IFD): image metadata extraction, both byte
# orders, inline and offset-stored values, Exif sub-IFD — the image-side
# counterpart to ``parse_mp4_meta`` for curation filters (orientation,
# camera, capture time, sensor dims).


def build_tiff_exif(make: str, model: str, orientation: int, datetime_s: str,
                    px: int, py: int, little: bool = True) -> bytes:
    """Minimal TIFF block: IFD0 (Make, Model, Orientation, DateTime,
    ExifIFD*) -> Exif sub-IFD (PixelXDimension, PixelYDimension)."""
    e = "<" if little else ">"
    def entry(tag, typ, count, value_bytes_or_offset, inline):
        if inline:
            v = value_bytes_or_offset.ljust(4, b"\x00")
            return struct.pack(e + "HHI", tag, typ, count) + v
        return struct.pack(e + "HHII", tag, typ, count, value_bytes_or_offset)

    make_b = make.encode() + b"\x00"
    model_b = model.encode() + b"\x00"
    dt_b = datetime_s.encode() + b"\x00"  # 20 bytes per spec
    # layout: header(8) IFD0(2 + 5*12 + 4) [exif IFD (2 + 2*12 + 4)] then data area
    ifd0_off = 8
    ifd0_size = 2 + 5 * 12 + 4
    exif_off = ifd0_off + ifd0_size
    exif_size = 2 + 2 * 12 + 4
    data_off = exif_off + exif_size
    data = b""
    def store(b):
        nonlocal data
        off = data_off + len(data)
        data += b
        return off
    def ascii_entry(tag, b):
        # TIFF 6.0: values of <= 4 bytes are stored INLINE in the value
        # field; longer ones at an offset into the data area
        if len(b) <= 4:
            return entry(tag, 2, len(b), b, True)
        return entry(tag, 2, len(b), store(b), False)

    ifd0 = struct.pack(e + "H", 5)
    ifd0 += ascii_entry(0x010F, make_b)
    ifd0 += ascii_entry(0x0110, model_b)
    ifd0 += entry(0x0112, 3, 1, struct.pack(e + "H", orientation), True)
    ifd0 += ascii_entry(0x0132, dt_b)
    ifd0 += entry(0x8769, 4, 1, struct.pack(e + "I", exif_off), True)
    ifd0 += struct.pack(e + "I", 0)  # next IFD
    exif = struct.pack(e + "H", 2)
    exif += entry(0xA002, 4, 1, struct.pack(e + "I", px), True)
    exif += entry(0xA003, 4, 1, struct.pack(e + "I", py), True)
    exif += struct.pack(e + "I", 0)
    hdr = (b"II" if little else b"MM") + struct.pack(e + "H", 42) + struct.pack(e + "I", ifd0_off)
    return hdr + ifd0 + exif + data

def embed_exif_jpeg(jpeg: bytes, tiff: bytes) -> bytes:
    app1 = b"Exif\x00\x00" + tiff
    return jpeg[:2] + b"\xff\xe1" + struct.pack(">H", 2 + len(app1)) + app1 + jpeg[2:]

_TYPE_SIZE = {1: 1, 2: 1, 3: 2, 4: 4, 5: 8, 7: 1, 9: 4, 10: 8}

def parse_exif(payload: bytes) -> dict:
    # find APP1/Exif in the JPEG marker walk
    if payload[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG payload (missing SOI)")
    pos, tiff = 2, None
    while pos + 4 <= len(payload):
        if payload[pos] != 0xFF:
            break
        marker = payload[pos + 1]
        if marker in (0xD8, 0xD9) or 0xD0 <= marker <= 0xD7:
            pos += 2
            continue
        (seglen,) = struct.unpack_from(">H", payload, pos + 2)
        if marker == 0xE1 and payload[pos + 4 : pos + 10] == b"Exif\x00\x00":
            tiff = payload[pos + 10 : pos + 2 + seglen]
            break
        if marker == 0xDA:
            break
        pos += 2 + seglen
    if tiff is None:
        raise ValueError("no Exif APP1 segment")
    if tiff[:2] == b"II":
        e = "<"
    elif tiff[:2] == b"MM":
        e = ">"
    else:
        raise ValueError("bad TIFF byte order mark")
    (magic,) = struct.unpack_from(e + "H", tiff, 2)
    if magic != 42:
        raise ValueError("bad TIFF magic")
    (ifd0,) = struct.unpack_from(e + "I", tiff, 4)
    out = {"byte_order": "II" if e == "<" else "MM"}

    def read_ifd(off):
        (n,) = struct.unpack_from(e + "H", tiff, off)
        entries = {}
        for i in range(n):
            tag, typ, cnt = struct.unpack_from(e + "HHI", tiff, off + 2 + 12 * i)
            size = _TYPE_SIZE.get(typ, 1) * cnt
            voff = off + 2 + 12 * i + 8
            if size > 4:
                (voff,) = struct.unpack_from(e + "I", tiff, voff)
            raw = tiff[voff : voff + size]
            entries[tag] = (typ, cnt, raw)
        return entries

    def val(entries, tag):
        if tag not in entries:
            return None
        typ, cnt, raw = entries[tag]
        if typ == 2:
            return raw.split(b"\x00")[0].decode("ascii", "replace")
        if typ == 3:
            return struct.unpack(e + "H", raw[:2])[0]
        if typ == 4:
            return struct.unpack(e + "I", raw[:4])[0]
        return raw

    ifd = read_ifd(ifd0)
    out["make"] = val(ifd, 0x010F)
    out["model"] = val(ifd, 0x0110)
    out["orientation"] = val(ifd, 0x0112)
    out["datetime"] = val(ifd, 0x0132)
    out["pixel_x"] = out["pixel_y"] = None
    sub = val(ifd, 0x8769)
    if sub is not None:
        exif = read_ifd(sub)
        out["pixel_x"] = val(exif, 0xA002)
        out["pixel_y"] = val(exif, 0xA003)
    return out


def exif_meta(df: DataFrame) -> DataFrame:
    """Arrow-batched EXIF extraction over JPEG payloads: (media_id,
    byte_order, make, model, orientation, dt, pixel_x, pixel_y).
    Map-only at any scale."""

    def row(mid, payload):
        m = parse_exif(bytes(payload))
        yield (
            int(mid), m["byte_order"], m["make"], m["model"],
            m["orientation"], m["datetime"],
            m["pixel_x"], m["pixel_y"],
        )

    schema = T.StructType(
        [
            T.StructField("media_id", T.LongType()),
            T.StructField("byte_order", T.StringType()),
            T.StructField("make", T.StringType()),
            T.StructField("model", T.StringType()),
            T.StructField("orientation", T.IntegerType()),
            T.StructField("dt", T.StringType()),
            T.StructField("pixel_x", T.LongType()),
            T.StructField("pixel_y", T.LongType()),
        ]
    )
    return _map_rows(df, ["media_id", "content"], schema, row)


def synthetic_exif_media(df: DataFrame, id_col: str) -> DataFrame:
    """Deterministic EXIF-tagged JPEGs from an id column: make Cam{id%7},
    model M{id%5}, orientation 1+id%8, capture time a modular formula,
    Exif dims (320+id%32) x (240+id%24); even ids little-endian (II),
    odd big-endian (MM) — both byte-order paths exercised in one table."""
    base = encode_jpeg(np.full((8, 8), 128, dtype=np.uint8))

    def row(mid):
        mid = int(mid)
        dt_s = "2024:01:%02d %02d:%02d:%02d" % (
            1 + mid % 28, mid % 24, mid % 60, (mid * 7) % 60,
        )
        tiff = build_tiff_exif(
            make=f"Cam{mid % 7}",
            model=f"M{mid % 5}",
            orientation=1 + mid % 8,
            datetime_s=dt_s,
            px=320 + mid % 32,
            py=240 + mid % 24,
            little=(mid % 2 == 0),
        )
        yield mid, embed_exif_jpeg(base, tiff)

    return _map_rows(df, [id_col], _SYNTH_SCHEMA, row)


def apply_exif_orientation(img: np.ndarray, orientation: int) -> np.ndarray:
    """Stored-pixel array -> display-oriented array per EXIF tag 274
    (r6 VERDICT #8: ``parse_exif`` extracted orientation but decode never
    applied it).  Pure NumPy views — no copy for the flip/transpose
    family.  Values 1-8 per TIFF/EXIF: 1 identity, 2 mirror-horizontal,
    3 rotate-180, 4 mirror-vertical, 5 main-diagonal transpose, 6
    rotate-90-CW, 7 anti-diagonal transverse, 8 rotate-90-CCW (5-8 swap
    width and height).  Works for (h, w) gray and (h, w, c) color."""
    if orientation in (None, 1):
        return img
    if orientation == 2:
        return img[:, ::-1]
    if orientation == 3:
        return img[::-1, ::-1]
    if orientation == 4:
        return img[::-1]
    if orientation == 5:
        return img.swapaxes(0, 1)
    if orientation == 6:
        return img.swapaxes(0, 1)[:, ::-1]
    if orientation == 7:
        return img[::-1, ::-1].swapaxes(0, 1)
    if orientation == 8:
        return img.swapaxes(0, 1)[::-1]
    raise ValueError(f"EXIF orientation must be 1-8, got {orientation}")


ORIENTED_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("orientation", T.IntegerType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("n_channels", T.IntegerType()),
        T.StructField("sum_vals", T.LongType()),
        T.StructField("first_px", T.IntegerType()),
        T.StructField("topright_px", T.IntegerType()),
    ]
)


def decode_media_oriented(df: DataFrame) -> DataFrame:
    """JPEG decode with the EXIF orientation APPLIED: each payload's APP1
    orientation (default 1 when absent/unparseable) drives a NumPy
    flip/rotate of the decoded pixels, so width/height and pixel
    positions are DISPLAY geometry, as a photo pipeline needs them.
    Emits the oriented corner pixels (first_px = [0,0], topright_px =
    [0, w-1]) — together they pin down which of the 8 transforms ran.
    Arrow-batched ``mapInPandas``; map-only at any scale."""

    def row(mid, payload):
        payload = bytes(payload)
        try:
            orient = parse_exif(payload)["orientation"] or 1
        except (ValueError, struct.error):
            # truncated APP1 raises struct.error from unpack_from,
            # which is NOT a ValueError subclass — both default to 1
            orient = 1
        if not 1 <= orient <= 8:
            # out-of-range tag value would raise from
            # apply_exif_orientation and kill the whole task
            orient = 1
        img = apply_exif_orientation(decode_jpeg(payload), orient)
        h, w = img.shape[:2]
        c = 1 if img.ndim == 2 else img.shape[2]
        first = img[0, 0] if img.ndim == 2 else img[0, 0, 0]
        topright = img[0, w - 1] if img.ndim == 2 else img[0, w - 1, 0]
        yield (
            int(mid), int(orient), w, h, c,
            int(img.astype(np.int64).sum()),
            int(first), int(topright),
        )

    return _map_rows(df, ["media_id", "content"], ORIENTED_SCHEMA, row)


def synthetic_oriented_media(df: DataFrame, id_col: str) -> DataFrame:
    """Deterministic EXIF-oriented JPEGs: the ``synthetic_jpeg_media``
    block-constant grayscale image (exact through the lossy pipeline)
    with an APP1 orientation tag of 1 + id % 8 — all eight transforms
    exercised across ids, alternating II/MM byte order."""

    def row(mid):
        mid = int(mid)
        wb, hb = 1 + mid % 3, 1 + mid % 2
        by, bx = np.ogrid[0:hb, 0:wb]
        blocks = ((mid + 17 * bx + 23 * by) % 256).astype(np.uint8)
        img = np.kron(blocks, np.ones((8, 8), dtype=np.uint8))
        tiff = build_tiff_exif(
            make="Cam", model="M", orientation=1 + mid % 8,
            datetime_s="2024:01:01 00:00:00",
            px=8 * wb, py=8 * hb, little=(mid % 2 == 0),
        )
        yield mid, embed_exif_jpeg(encode_jpeg(img), tiff)

    return _map_rows(df, [id_col], _SYNTH_SCHEMA, row)


def _real_decode(payload: bytes) -> tuple[int, int, int, np.ndarray]:
    """Dispatch on magic bytes; returns (width, height, n_channels, values)
    where ``values`` is the flat sample/pixel array (RGB top-down for
    images, interleaved int16 for audio)."""
    if payload[:2] == b"BM":
        rgb = decode_bmp(payload)
        h, w, _ = rgb.shape
        return w, h, 3, rgb.reshape(-1).astype(np.int64)
    if payload[:2] == b"P6":
        rgb = decode_ppm(payload)
        h, w, _ = rgb.shape
        return w, h, 3, rgb.reshape(-1).astype(np.int64)
    if payload[:4] == b"RIFF" and payload[8:12] == b"WAVE":
        samples, channels, _ = decode_wav(payload)
        return len(samples) // max(channels, 1), 1, channels, samples.astype(np.int64)
    if payload[: len(_PNG_SIG)] == _PNG_SIG:
        img = decode_png(payload)
        h, w = img.shape[:2]
        c = 1 if img.ndim == 2 else img.shape[2]
        return w, h, c, img.reshape(-1).astype(np.int64)
    if payload[:2] == b"\xff\xd8":
        img = decode_jpeg(payload)
        h, w = img.shape[:2]
        c = 1 if img.ndim == 2 else img.shape[2]
        return w, h, c, img.reshape(-1).astype(np.int64)
    if payload[:6] in (b"GIF87a", b"GIF89a"):
        img = decode_gif(payload)
        h, w = img.shape[:2]
        return w, h, 3, img.reshape(-1).astype(np.int64)
    raise NotImplementedError(
        "compressed/unknown media formats require external codec libraries "
        "not present in this container (supported here: BMP-24, PPM-P6, "
        "WAV-PCM16, PNG 8-bit gray/RGB/RGBA, GIF, baseline+progressive+"
        "12-bit-extended-sequential JPEG, MJPEG-in-AVI)"
    )


def decode_media(df: DataFrame, fake: bool = True) -> DataFrame:
    """Decode + feature-extract media payloads via Arrow-batched mapInPandas.

    ``fake=False`` runs the REAL pure-NumPy decoders (BMP-24 / PPM-P6 /
    WAV-PCM16, dispatched on magic bytes); features are
    ``[sum(values), values[0], values[1], values[2]]`` — integer-valued, so
    they're exact in float32 and SQL-predictable for synthetic payloads.
    ``fake=True`` keeps the digest-derived stub (8 features) for
    arbitrary payloads.
    """

    def row(media_id, payload):
        if fake:
            w, h, c, feats = _fake_decode(bytes(payload))
            feats = feats.tolist()
        else:
            w, h, c, vals = _real_decode(bytes(payload))
            feats = [
                float(vals.sum()),
                float(vals[0]),
                float(vals[1]),
                float(vals[2]),
            ]
        yield media_id, w, h, c, feats

    return _map_rows(df, ["media_id", "content"], DECODED_SCHEMA, row)


AUDIO_FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("win", T.IntegerType()),
        T.StructField("n", T.IntegerType()),
        T.StructField("rms", T.DoubleType()),
        T.StructField("peak", T.IntegerType()),
        T.StructField("zero_crossings", T.IntegerType()),
        T.StructField("dom_bin", T.IntegerType()),
    ]
)


def audio_features(
    df: DataFrame, window: int = 32, include_fft: bool = False
) -> DataFrame:
    """Windowed audio feature extraction over WAV-PCM16 payloads.

    Decodes each payload, takes channel 0, and emits one row per FULL
    non-overlapping ``window``-frame window with: RMS energy, peak
    absolute sample, and zero-crossing count — the classic VAD /
    silence-trim / clipping-detect features of an audio-curation pipeline.
    RMS is ``sqrt(sum(v^2)/n)`` with the sum exact in int64, so the value
    is bit-reproducible across engines (no rounding needed).  With
    ``include_fft=True`` a ``dom_bin`` column adds the dominant
    ``rfft`` power bin per window (not ANSI-SQL-expressible — covered by
    the pure-sine pytest oracle instead); otherwise it is NULL.

    Plan shape at scale: Arrow-batched ``mapInPandas``, one pass per
    payload, vectorized NumPy per window — map-only, no shuffle; output
    volume is O(total_frames / window).
    """

    def row(media_id, payload):
        samples, channels, _ = decode_wav(bytes(payload))
        ch0 = samples[:: max(channels, 1)].astype(np.int64)
        n_full = len(ch0) // window
        for w_idx in range(n_full):
            v = ch0[w_idx * window : (w_idx + 1) * window]
            rms = float(np.sqrt(float((v * v).sum()) / window))
            zc = int(np.sum((v[1:] >= 0) != (v[:-1] >= 0)))
            dom = None
            if include_fft:
                power = np.abs(np.fft.rfft(v.astype(np.float64))) ** 2
                dom = int(np.argmax(power))
            yield (
                int(media_id), w_idx, window, rms,
                int(np.abs(v).max()), zc, dom,
            )

    return _map_rows(
        df, ["media_id", "content"], AUDIO_FEATURES_SCHEMA, row
    )


def synthetic_bmp_media(df: DataFrame, id_col: str) -> DataFrame:
    """Deterministic BMP payloads from an id column (test/oracle harness).

    width = 4 + id % 9 (exercises every 4-byte-stride padding class),
    height = 3 + id % 5, pixel(x, y, c) = (id + 7x + 13y + 29c) % 256 in
    logical RGB top-down order — so decode outputs are predictable in pure
    SQL and any row-order / channel-order / padding bug in the codec path
    breaks the oracle match.
    """

    def row(mid):
        mid = int(mid)
        w, h = 4 + mid % 9, 3 + mid % 5
        y, x, c = np.ogrid[0:h, 0:w, 0:3]
        rgb = ((mid + 7 * x + 13 * y + 29 * c) % 256).astype(np.uint8)
        yield mid, encode_bmp(rgb)

    return _map_rows(df, [id_col], _SYNTH_SCHEMA, row)


_PERTURB_BLOCKS = {1: (2, 2), 2: (5, 6)}  # (block-row, block-col) per copy


def synthetic_bmp_media_perceptual(
    df: DataFrame,
    id_col: str,
    group_mod: int = 50,
    perturb: bool = False,
    seed_col: str | None = None,
    offset_col: str | None = None,
) -> DataFrame:
    """Deterministic BMPs with BUILT-IN perceptual-duplicate structure
    (test/oracle harness for image dedup), 36x32: content depends only on
    ``gid = id % group_mod``, and ``delta = (id // group_mod) % 3`` adds a
    uniform brightness shift — so every ``group_mod``-th id is a
    brightness-shifted copy of the same image.

    pixel(x, y, c) = ((gid*13+7)*x + (gid*5+3)*y) % 240 + 2c + delta —
    the gid-dependent gradient DIRECTION makes distinct content groups
    genuinely distinct under a gradient hash (measured: 50 gids -> 50
    distinct dHashes, zero cross-group pairs at Hamming <= 3; a
    fixed-direction ramp differing only by offset collapses to 41 with 81
    cross-group near-pairs).  The base is bounded at 239 and the additive
    terms at +6, so no channel ever wraps mod 256: a constant shift stays
    a constant shift, which is what makes the dHash invariance provable
    (and SQL-predictable).

    ``perturb=True`` additionally paints one copy-specific 4x4 block
    (``_PERTURB_BLOCKS``) solid 250 on copies with delta > 0 — turning
    exact perceptual duplicates into NEAR-duplicates a few dHash gradient
    bits apart (the Hamming-retrieval harness).

    ``seed_col`` / ``offset_col`` (the ``synthetic_wav_media_tonal`` /
    ``synthetic_avi_media_grid`` knob, added for the mixed-content
    geometry): name columns carrying gid and delta directly instead of
    deriving them from the id — e.g. a mega-cluster head (gid = id %
    50) plus a sparse near-miss tail of per-8-doc sub-groups whose
    chunk buckets SURVIVE the occupancy cap, so the capped pair join is
    non-empty at scale (VERDICT r12 #3).  Content math is unchanged.
    """

    cols, unpack = _keyed_cols(id_col, seed_col, offset_col)

    def row(*r):
        mid, gid, delta = unpack(*r)
        gid = mid % group_mod if gid is None else gid
        delta = (mid // group_mod) % 3 if delta is None else delta
        y, x, c = np.ogrid[0:32, 0:36, 0:3]
        rgb = (
            ((gid * 13 + 7) * x + (gid * 5 + 3) * y) % 240
            + 2 * c + delta
        ).astype(np.uint8)
        if perturb and delta > 0:
            # one distinctive 4x4 block per copy index: copies are
            # NEAR-duplicates (a few gradient bits), not exact
            yb, xb = _PERTURB_BLOCKS[delta]
            rgb[yb * 4 : yb * 4 + 4, xb * 4 : xb * 4 + 4, :] = 250
        yield mid, encode_bmp(rgb)

    return _map_rows(df, cols, _SYNTH_SCHEMA, row)


def synthetic_bmp_media_ragged(df: DataFrame, id_col: str) -> DataFrame:
    """The perceptual-duplicate harness at RAGGED, group-dependent sizes
    (test/oracle harness for resize-then-hash): same content formula as
    ``synthetic_bmp_media_perceptual`` — pixel(x, y, c) =
    ((gid*13+7)x + (gid*5+3)y) % 240 + 2c + delta — but width/height are
    ``40 + gid % 7`` x ``33 + gid % 5``: not multiples of the 9x8 dHash
    grid (the sizes real pipelines see), yet shared within a content
    group, so brightness-shifted copies stay provably hash-identical
    AFTER a deterministic resize (a uniform +delta survives integer
    box-averaging exactly: floor((s + delta*area)/area) =
    floor(s/area) + delta).  Content groups: ``gid = id % 50``."""

    def row(mid):
        mid = int(mid)
        gid, delta = mid % 50, (mid // 50) % 3
        w, h = 40 + gid % 7, 33 + gid % 5
        y, x, c = np.ogrid[0:h, 0:w, 0:3]
        rgb = (
            ((gid * 13 + 7) * x + (gid * 5 + 3) * y) % 240
            + 2 * c + delta
        ).astype(np.uint8)
        yield mid, encode_bmp(rgb)

    return _map_rows(df, [id_col], _SYNTH_SCHEMA, row)


RESIZE_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("content", T.BinaryType()),
    ]
)


def image_resize_box(df: DataFrame, out_w: int, out_h: int) -> DataFrame:
    """Integer box-average thumbnail resize — the upstream ``image_dhash``
    needs for arbitrary-sized images (real image dedup hashes thumbnails;
    the dHash grid requires dims that tile evenly, which a thumbnail of
    chosen size guarantees).

    DETERMINISTIC INTEGER DISCIPLINE (so oracles stay exact): output
    pixel (X, Y) averages the source box with floor boundaries
    ``y0 = (Y*h_in)//out_h, y1 = ((Y+1)*h_in)//out_h`` (same for x), and
    the per-channel average is the floor division ``box_sum // box_area``.
    When the source dims divide evenly this IS the exact equal-box mean;
    for ragged dims box sizes differ by at most one row/column and every
    step is integer arithmetic an ANSI-SQL twin replays bit-for-bit.  A
    uniform brightness shift survives exactly —
    ``floor((s + d*area)/area) = floor(s/area) + d`` — so the
    resize-then-dHash composition keeps the perceptual-dedup invariance
    provable.  Upsampling is rejected (a floor-boundary box would be
    empty): this is a thumbnail operator, ``out <= in`` on both axes.

    Grayscale (1-channel) sources are replicated to 3 channels before
    re-encoding.  Output: (media_id, width, height, content) with the
    thumbnail re-encoded as BMP — composes with ``image_dhash`` and every
    other decode consumer.  Arrow-batched ``mapInPandas``, map-only: at
    100 TB each image is decoded, reduced ~(in/out)² in bytes, and
    re-encoded where it lives; no shuffle.
    """
    if out_w < 1 or out_h < 1:
        raise ValueError("output dimensions must be >= 1")

    def row(mid, payload):
        w, h, c, vals = _real_decode(bytes(payload))
        if out_w > w or out_h > h:
            raise ValueError(
                f"image {int(mid)} is {w}x{h}; box resize is "
                f"downsample-only (requested {out_w}x{out_h})"
            )
        img = vals.reshape(h, w, c).astype(np.int64)
        if c == 1:
            img = np.repeat(img, 3, axis=2)
        # integral image -> box sums at floor boundaries, then
        # integer floor division by the per-box area
        cs = img.cumsum(axis=0).cumsum(axis=1)
        cs = np.pad(cs, ((1, 0), (1, 0), (0, 0)))
        yb = (np.arange(out_h + 1) * h) // out_h
        xb = (np.arange(out_w + 1) * w) // out_w
        sums = (
            cs[yb[1:, None], xb[None, 1:]]
            - cs[yb[:-1, None], xb[None, 1:]]
            - cs[yb[1:, None], xb[None, :-1]]
            + cs[yb[:-1, None], xb[None, :-1]]
        )
        areas = (
            (yb[1:] - yb[:-1])[:, None] * (xb[1:] - xb[:-1])[None, :]
        )[:, :, None]
        out = (sums // areas).astype(np.uint8)
        yield int(mid), out_w, out_h, encode_bmp(np.ascontiguousarray(out))

    return _map_rows(df, ["media_id", "content"], RESIZE_SCHEMA, row)


DHASH_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("dhash_hi", T.LongType()),
        T.StructField("dhash_lo", T.LongType()),
    ]
)


def _dhash64(img: np.ndarray, what: str) -> tuple[int, int]:
    """64-bit dHash of an (h, w) or (h, w, c) integer image as its
    (hi, lo) 32-bit halves: gray is the channel SUM, the 9x8 grid's
    block SUMS stand in for block averages, and bit i = y * 8 + x is set
    where block x+1 of row y exceeds block x.  Exactly 64 bits: the
    (hi, lo) packing and the 4x16-bit chunk pigeonhole both assume it.
    Images must tile evenly into the grid; ``what`` names the image in
    the reject."""
    gray = (
        img.sum(axis=2, dtype=np.int64) if img.ndim == 3
        else img.astype(np.int64)
    )
    h, w = gray.shape
    if w % 9 or h % 8:
        raise ValueError(
            f"{what} is {w}x{h}; dhash needs multiples of 9x8 "
            f"— resize upstream"
        )
    blocks = gray.reshape(8, h // 8, 9, w // 9).sum(axis=(1, 3))
    bits = (blocks[:, 1:] > blocks[:, :-1]).astype(np.int64).reshape(-1)
    ks = np.arange(32, dtype=np.int64)
    return int((bits[32:] << ks).sum()), int((bits[:32] << ks).sum())


def image_dhash(df: DataFrame) -> DataFrame:
    """Perceptual difference-hash (dHash) per image — the image-dedup
    primitive: decode, box-average to a 9x8 gray grid, emit one bit per
    horizontal gradient (8 x 8 = 64 bits), packed as two 32-bit halves
    (``dhash_hi`` carries bits 32..63 — no signed-overflow edge at bit
    63); :func:`_dhash64` computes it.

    INTEGER-EXACT by construction: gray is the channel SUM (no /3), block
    "averages" compare as block SUMS (equal block sizes — a > b/16 iff
    sums compare), so there is no float anywhere and the hash replays
    bit-for-bit in an ANSI-SQL oracle.  Perceptual invariance: a uniform
    brightness shift adds the same constant to every block sum, so every
    gradient comparison — and the hash — is unchanged.

    Near-dup retrieval at scale composes with the existing SimHash
    machinery: dHash values within Hamming distance <= 3 share one of 4
    16-bit chunks (pigeonhole) — bucket on chunks exactly like
    ``dedup.simhash_near_duplicates_incremental64``.  This operator emits
    the hash; exact dedup is a groupBy on (dhash_hi, dhash_lo).

    Images must tile evenly (width % 9 == 0, height % 8 == 0); ragged
    sizes raise — resize upstream (real pipelines hash thumbnails).
    Arrow-batched mapInPandas, map-only: the 100 TB shape is one decode
    pass then an exact-dedup shuffle on 16 bytes per image.
    """

    def row(media_id, payload):
        w, h, c, vals = _real_decode(bytes(payload))
        hi, lo = _dhash64(vals.reshape(h, w, c), f"image {int(media_id)}")
        yield int(media_id), w, h, hi, lo

    return _map_rows(df, ["media_id", "content"], DHASH_SCHEMA, row)


# the split 64-bit dHash columns of image and video-frame hash tables
_DHASH = ("dhash_hi", "dhash_lo")


def dhash_chunk_table(hashes: DataFrame) -> DataFrame:
    """(media_id, dhash_hi, dhash_lo, ci, cv) — the UNCAPPED dHash chunk table
    for an image set: what a production deployment computes ONCE at
    ingest (decode + hash + chunk) and stores partitioned on ``ci`` as
    the corpus image-signature index.  Feed a stored copy back to
    :func:`dhash_near_duplicates_incremental` via ``corpus_index`` so an
    incremental batch pays decode+hash only for its own images; the
    corpus side is then a DECODE-FREE parquet scan — the third stored-
    index family, and the one where the amortized cost is largest
    (the corpus side skips the Python/Arrow image decode entirely, not
    just a signature fold).  Rows carry the ``index_fp`` build stamp
    (``indexstamp``) asserted at serve time."""
    from .indexstamp import stamp_index

    return stamp_index(
        chunks_4x16(hashes.select("media_id", *_DHASH), *_DHASH),
        "dhash_chunk_table",
    )


def dhash_near_duplicates(
    hashes: DataFrame,
    max_hamming: int = 3,
    max_bucket_size: int | None = 64,
) -> DataFrame:
    """Hamming-near image pairs from an ``image_dhash`` table — the same
    pigeonhole bucketing as ``dedup.simhash_near_duplicates_portable``, on
    the (hi, lo) split hash: two 64-bit hashes within Hamming <= 3 agree
    exactly on at least one of the four 16-bit chunks, so candidates join
    on (chunk_idx, chunk_value) — linear in corpus size, never all-pairs —
    and the exact Hamming filter keeps the result lossless.

    ``max_bucket_size`` — the scale guard, ON BY DEFAULT (mirroring the
    MinHash ``max_bucket_size`` and the Jaccard df-cap): pair generation
    is quadratic per chunk bucket, and a cluster of b exact/near-copies
    of one image yields O(b^2) pairs — measured concretely: the
    synthetic 50-group harness at 500k images put ~10k copies in every
    bucket, ~2.5 BILLION candidate pairs, a 100x-per-10x blow-up.
    Chunk buckets above the cap are dropped BEFORE the self-join
    (a count window on the composite key — single derivation).  The
    composition this assumes: mega-clusters of EXACT hash duplicates
    belong to the exact-dedup ``groupBy`` (one shuffle, linear — see
    ``multimodal_image_dedup``); Hamming retrieval is for the sparse
    near-miss tail.  ``None`` opts into the exact uncapped join.

    The halves stay split throughout (each is < 2^32, so every chunk
    shift/mask and the per-half ``bit_count(xor)`` is sign-free in both
    Spark and the SQL oracle).  Output: (id_a, id_b, hamming).
    """
    _pigeonhole_bound(max_hamming, 4)
    keyed = chunks_4x16(hashes.select("media_id", *_DHASH), *_DHASH)
    if max_bucket_size is not None:
        keyed = prune_df_window(keyed, ["ci", "cv"], max_bucket_size)
    a = keyed.toDF("id_a", "hi_a", "lo_a", "ci", "cv")
    b = keyed.toDF("id_b", "hi_b", "lo_b", "ci", "cv")
    return (
        a.join(b, ["ci", "cv"])
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", hamming_ab())
        .distinct()
        .where(F.col("hamming") <= max_hamming)
    )


def dhash_near_duplicates_incremental(
    new_hashes: DataFrame,
    corpus_hashes: DataFrame | None,
    max_hamming: int = 3,
    id_col: str = "media_id",
    max_bucket_size: int | None = 64,
    corpus_index: DataFrame | None = None,
    corpus_occupancy: DataFrame | None = None,
) -> DataFrame:
    """INCREMENTAL Hamming-near image retrieval — an incoming batch of
    ``image_dhash`` rows paired against itself and the existing corpus,
    NEVER corpus x corpus (the image analogue of
    ``dedup.minhash_near_duplicates_incremental``).

    Nightly image ingest does not re-pair a trillion-image signature
    store; per 16-bit chunk bucket the candidate volume here is
    O(|bucket ∩ batch| x |bucket|) — the batch side is the build side of
    the chunk join, so corpus growth costs a bigger probe side, not a
    quadratic re-pairing.  Semantics equal ``dhash_near_duplicates`` over
    the UNION of the two inputs restricted to pairs with at least one
    batch image (pinned in ``test_asof_multimodal.py``):
    ``max_bucket_size`` counts COMBINED (batch ∪ corpus) chunk-bucket
    occupancy — a boilerplate-hot bucket must prune even when the batch
    contributes one row, exactly like the MinHash incremental form — and
    the exact per-half ``bit_count(xor)`` verify keeps the result
    lossless for Hamming <= ``max_hamming``.  Ids must be unique across
    the two inputs.  Output: (id_a, id_b, hamming), id_a < id_b.

    ``corpus_index`` (a stored :func:`dhash_chunk_table`, in place of
    ``corpus_hashes``: no corpus image bytes read, no dHash recomputed —
    the amortized cost here is the Python/Arrow image decode itself) and
    ``corpus_occupancy`` follow the shared stored-index contract of
    ``dedup._serve_rows``.
    """
    from .cache import attach_cached

    _pigeonhole_bound(max_hamming, 4)

    rows, handles = _serve_rows(
        new_hashes.select(id_col, *_DHASH),
        None if corpus_hashes is None else corpus_hashes.select(id_col, *_DHASH),
        lambda hashes: chunks_4x16(hashes, *_DHASH),
        corpus_index,
        corpus_occupancy,
        "dhash_chunk_table",
        {},
        [id_col, *_DHASH, "ci", "cv"],
        ["ci", "cv"],
        max_bucket_size,
    )
    pairs = hamming_serve_pairs(rows, id_col, *_DHASH, max_hamming)
    return attach_cached(pairs, *handles)



VIDEO_DHASH_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("frame_idx", T.IntegerType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("dhash_hi", T.LongType()),
        T.StructField("dhash_lo", T.LongType()),
    ]
)


def video_frame_dhash(df: DataFrame) -> DataFrame:
    """Per-frame perceptual dHash over MJPEG-in-AVI video payloads — the
    video-dedup primitive: one RIFF walk + JPEG decode + 64-bit dHash per
    sampled frame, ALL inside one Arrow-batched ``mapInPandas`` pass, so
    frame pixels never leave the task that decoded them (at 100 TB the
    only thing that ever shuffles is 16 bytes + 2 ints per frame).

    The hash is :func:`_dhash64`, the one ``image_dhash`` uses, so a
    frame's hash here equals ``image_dhash`` of that frame exported as a
    still, and the same 4x16-bit chunk machinery does retrieval.  Frames
    must tile evenly into the 9x8 grid (resize upstream otherwise).
    Output: (media_id, frame_idx, width, height, dhash_hi, dhash_lo).
    """

    def row(mid, payload):
        for idx, img in decode_avi_frames(bytes(payload)):
            hi, lo = _dhash64(img, f"video {int(mid)} frame {idx}")
            yield int(mid), idx, img.shape[1], img.shape[0], hi, lo

    return _map_rows(df, ["media_id", "content"], VIDEO_DHASH_SCHEMA, row)


def video_near_duplicates(
    frame_hashes: DataFrame,
    max_hamming: int = 3,
    max_bucket_size: int | None = 64,
) -> DataFrame:
    """Video near-dup retrieval by frame voting: two videos are near
    duplicates when at least 2 of their frame pairs are
    within Hamming <= ``max_hamming`` of each other — the property a
    re-encoded, trimmed, or time-shifted copy keeps while every global
    digest of the byte stream breaks.

    Candidates join on the frame hash's 4x16-bit pigeonhole chunks
    (exactly :func:`dhash_near_duplicates` — a frame pair within
    Hamming <= 3 agrees on at least one chunk), chunk buckets are capped
    at ``max_bucket_size`` combined occupancy by default (mega-clusters
    of identical frames belong to exact dedup — a groupBy on the hash —
    not the retrieval join; a same-content pair pruned from one hot
    chunk still reaches its partner through its other three), the exact
    per-half ``bit_count(xor)`` verify keeps frame matches lossless, and
    the vote is one groupBy per video pair.  Input: a
    :func:`video_frame_dhash` table.  Output: (id_a, id_b,
    n_frame_matches), id_a < id_b.
    """
    _pigeonhole_bound(max_hamming, 4)
    keyed = chunks_4x16(
        frame_hashes.select("media_id", "frame_idx", *_DHASH), *_DHASH
    )
    if max_bucket_size is not None:
        keyed = prune_df_window(keyed, ["ci", "cv"], max_bucket_size)
    a = keyed.toDF("id_a", "f_a", "hi_a", "lo_a", "ci", "cv")
    b = keyed.toDF("id_b", "f_b", "hi_b", "lo_b", "ci", "cv")
    frame_pairs = (
        a.join(b, ["ci", "cv"])
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "f_a", "id_b", "f_b", hamming_ab())
        .distinct()
        .where(F.col("hamming") <= max_hamming)
    )
    return (
        frame_pairs.groupBy("id_a", "id_b")
        .agg(F.count("*").cast("long").alias("n_frame_matches"))
        .where(F.col("n_frame_matches") >= 2)
    )


def video_frame_chunk_table(frame_hashes: DataFrame) -> DataFrame:
    """(media_id, frame_idx, dhash_hi, dhash_lo, ci, cv) — the UNCAPPED
    frame-hash chunk table for a video catalog: what a production
    deployment computes ONCE at ingest (container walk + per-frame JPEG
    decode + frame dHash + chunk) and stores partitioned on ``ci`` as
    the catalog frame index.  Feed a stored copy back to
    :func:`video_near_duplicates_incremental` via ``corpus_index`` so an
    incremental batch pays the video decode only for its own clips; the
    catalog side is then a decode-free parquet scan — the FIFTH stored
    family, amortizing the single heaviest fold in the repo (the AVI +
    per-frame JPEG decode behind `multimodal_video_dedup`'s sf10 wall).
    Rows carry the ``index_fp`` build stamp (``indexstamp``) asserted at
    serve time."""
    from .indexstamp import stamp_index

    return stamp_index(
        chunks_4x16(
            frame_hashes.select("media_id", "frame_idx", *_DHASH), *_DHASH
        ),
        "video_frame_chunk_table",
    )


def video_near_duplicates_incremental(
    new_frame_hashes: DataFrame,
    corpus_frame_hashes: DataFrame | None,
    max_hamming: int = 3,
    min_frames: int = 2,
    max_bucket_size: int | None = 64,
    corpus_index: DataFrame | None = None,
    corpus_occupancy: DataFrame | None = None,
) -> DataFrame:
    """INCREMENTAL video near-dup retrieval — an incoming batch of
    :func:`video_frame_dhash` rows frame-voted against itself and the
    existing catalog, NEVER catalog x catalog: the batch's frames are
    the build side of the chunk join, so catalog growth costs a bigger
    probe side, not a quadratic re-pairing.  The sixth and last
    near-dup family to get the incremental form (Jaccard, MinHash,
    SimHash, dHash, landmarks, frame votes).

    Semantics equal :func:`video_near_duplicates` over the UNION of the
    two inputs restricted to pairs with at least one batch video
    (pinned in ``test_asof_multimodal.py``): ``max_bucket_size`` counts
    COMBINED (batch ∪ catalog) chunk-bucket occupancy, and — unlike the
    landmark/Jaccard families, whose votes are SUMS and need the
    0.5-weighting for twice-found batch-batch hits — the frame vote is
    a count of DISTINCT frame pairs, so orientation-normalizing
    (id, frame) before the ``distinct`` dedupes the second sighting
    exactly.  Video ids must be unique across the two inputs.
    Output: (id_a, id_b, n_frame_matches), id_a < id_b.

    ``corpus_index`` (a stored :func:`video_frame_chunk_table`, in
    place of ``corpus_frame_hashes``: no catalog video bytes read, no
    container walk, no per-frame JPEG decode, no frame dHash — the
    heaviest fold in the repo) and ``corpus_occupancy`` follow the
    shared stored-index contract of ``dedup._serve_rows``.
    """
    from .cache import attach_cached

    _pigeonhole_bound(max_hamming, 4)
    cols = ["media_id", "frame_idx", *_DHASH]
    rows, handles = _serve_rows(
        new_frame_hashes.select(*cols),
        None
        if corpus_frame_hashes is None
        else corpus_frame_hashes.select(*cols),
        lambda hashes: chunks_4x16(hashes, *_DHASH),
        corpus_index,
        corpus_occupancy,
        "video_frame_chunk_table",
        {},
        [*cols, "ci", "cv"],
        ["ci", "cv"],
        max_bucket_size,
    )

    def side(s: str, df: DataFrame) -> DataFrame:
        return df.select(
            F.col("media_id").alias(f"id_{s}"),
            F.col("frame_idx").alias(f"f_{s}"),
            F.col("dhash_hi").alias(f"hi_{s}"),
            F.col("dhash_lo").alias(f"lo_{s}"),
            "ci", "cv",
        )

    fwd = F.col("id_a") < F.col("id_b")
    frame_pairs = (
        side("a", rows.where(F.col("_new")))
        .join(side("b", rows), ["ci", "cv"])
        .where(F.col("id_a") != F.col("id_b"))
        .select(
            F.least("id_a", "id_b").alias("vid_a"),
            F.when(fwd, F.col("f_a")).otherwise(F.col("f_b")).alias("vf_a"),
            F.greatest("id_a", "id_b").alias("vid_b"),
            F.when(fwd, F.col("f_b")).otherwise(F.col("f_a")).alias("vf_b"),
            hamming_ab(),
        )
        .distinct()
        .where(F.col("hamming") <= max_hamming)
    )
    out = (
        frame_pairs.groupBy(
            F.col("vid_a").alias("id_a"), F.col("vid_b").alias("id_b")
        )
        .agg(F.count("*").cast("long").alias("n_frame_matches"))
        .where(F.col("n_frame_matches") >= min_frames)
    )
    return attach_cached(out, *handles)



def video_fingerprint(frame_hashes: DataFrame) -> DataFrame:
    """(media_id, fingerprint): md5 of the frame-ordered ``hi:lo`` dHash
    sequence — a compact content address for EXACT video dedup, the
    video analogue of ``audio_fingerprint``: byte-level container or
    encoder differences that preserve every frame's perceptual content
    collapse to one fingerprint, while :func:`video_near_duplicates`
    handles the shifted/trimmed tail the global digest deliberately
    splits.  Input: a :func:`video_frame_dhash` table.  One
    16-byte-per-video aggregate shuffle; exact dedup is a groupBy on the
    fingerprint."""
    seq = F.transform(
        F.array_sort(
            F.collect_list(F.struct("frame_idx", "dhash_hi", "dhash_lo"))
        ),
        lambda s: F.concat_ws(
            ":",
            s["dhash_hi"].cast("string"),
            s["dhash_lo"].cast("string"),
        ),
    )
    return frame_hashes.groupBy("media_id").agg(
        F.md5(F.concat_ws(",", seq)).alias("fingerprint")
    )


@functools.lru_cache(maxsize=4096)
def _avi_grid_payload(s: int, off: int) -> bytes:
    """The ``synthetic_avi_media_grid`` clip of content seed ``s`` at
    frame offset ``off``: 4 frames, frame f carrying content (s, off + f).

    Memoized per Python worker: the AVI bytes are a PURE function of
    (seed, offset) — media_id only labels the row — and the harness keys
    deliberately form small content classes (duplicate payloads under
    distinct ids is the dedup case itself), so one task re-encoded the
    identical clip hundreds of times.  Bounded (payloads are KBs; a
    high-cardinality seed column just makes it a per-key build again)."""
    ks = np.arange(64, dtype=np.int64)
    frames = []
    for f in range(4):
        t = off + f
        b = (((s * 41 + t * 17 + ks) ** 2 * 37 + s * 131 + t * 73) % 251) % 2
        bg = b.reshape(8, 8)
        v = np.empty((8, 9), dtype=np.int64)
        v[:, 0] = 116
        np.cumsum(14 * (2 * bg - 1), axis=1, out=v[:, 1:])
        v[:, 1:] += 116
        frames.append(np.kron(v, np.ones((8, 8), np.int64)).astype(np.uint8))
    return encode_avi_mjpeg(frames, fps=10)


def synthetic_avi_media_grid(
    df: DataFrame,
    id_col: str,
    seed_col: str | None = None,
    offset_col: str | None = None,
) -> DataFrame:
    """Deterministic MJPEG AVIs whose per-frame dHash is ANALYTIC — the
    video harness for :func:`video_frame_dhash` /
    :func:`video_near_duplicates` (the video analogue of
    ``synthetic_wav_media_tonal``).

    Each frame is a 72x64 grid of 9x8 constant 8px blocks — constant
    JPEG blocks round-trip exactly through the all-ones-qtable path —
    whose horizontal ±14 value walk ENCODES a chosen 64-bit pattern:
    bit k (= row*8 + col) of frame content ``(s, t)`` is
    ``((s*41 + t*17 + k)^2 * 37 + s*131 + t*73) % 251 % 2``, the block
    value walks ``v(0,y) = 116, v(x+1,y) = v(x,y) ± 14`` (range 4..228),
    so ``video_frame_dhash`` recovers exactly those bits.  The squared
    term matters: affine-in-k formulas produce colliding bit patterns
    (measured: min pairwise Hamming 0), while this one measures min
    pairwise Hamming 22 over the query harness's 50 contents — far
    above the <= 3 retrieval band, so frame matches identify content.
    Frame f of a video with seed ``s`` and offset ``o`` carries content
    ``(s, o + f)``: offset-shifted renditions share all but one frame
    content while any whole-file digest separates them.
    """
    cols, unpack = _keyed_cols(id_col, seed_col, offset_col)

    def row(*r):
        mid, s, off = unpack(*r)
        yield mid, _avi_grid_payload(mid if s is None else s, off or 0)

    return _map_rows(df, cols, _SYNTH_SCHEMA, row)


def synthetic_png_media(df: DataFrame, id_col: str) -> DataFrame:
    """Deterministic PNG payloads from an id column (test/oracle harness).

    Same pixel formula as ``synthetic_bmp_media`` (so the SQL oracle is
    analytic) with PNG-specific coverage: width = 4 + id % 11,
    height = 3 + id % 6, and the per-scanline filter type cycles through
    (id + y) % 5 — every encoded image exercises several of the five
    DEFLATE-prefilter paths, and any unfilter bug breaks the value hash.
    """

    def row(mid):
        mid = int(mid)
        w, h = 4 + mid % 11, 3 + mid % 6
        y, x, c = np.ogrid[0:h, 0:w, 0:3]
        rgb = ((mid + 7 * x + 13 * y + 29 * c) % 256).astype(np.uint8)
        filters = [(mid + yy) % 5 for yy in range(h)]
        yield mid, encode_png(rgb, filters=filters)

    return _map_rows(df, [id_col], _SYNTH_SCHEMA, row)


def synthetic_jpeg_media(df: DataFrame, id_col: str) -> DataFrame:
    """Deterministic baseline-JPEG payloads from an id column (test/oracle
    harness).

    Grayscale, width = 8*(1 + id % 3), height = 8*(1 + id % 2); each 8x8
    block is CONSTANT with value (id + 17*bx + 23*by) % 256 and the quant
    table is all-ones.  A constant block's DCT is a lone DC coefficient
    8*(v-128) — an exact integer — so quantization at q=1 and the float
    IDCT round-trip the pixels EXACTLY, making the decoded output (and so
    the SQL oracle) analytic despite JPEG being a lossy format.  Any
    Huffman/zigzag/dequant/IDCT bug breaks the value hash.
    """

    def row(mid):
        mid = int(mid)
        wb, hb = 1 + mid % 3, 1 + mid % 2
        by, bx = np.ogrid[0:hb, 0:wb]
        blocks = ((mid + 17 * bx + 23 * by) % 256).astype(np.uint8)
        img = np.kron(blocks, np.ones((8, 8), dtype=np.uint8))
        yield mid, encode_jpeg(img)

    return _map_rows(df, [id_col], _SYNTH_SCHEMA, row)


def synthetic_jpeg12_media(df: DataFrame, id_col: str) -> DataFrame:
    """Deterministic 12-bit EXTENDED-SEQUENTIAL (SOF1) JPEG payloads:
    same block-constant construction as :func:`synthetic_jpeg_media`
    but with 12-bit sample values ``(700 + 29*id + 137*bx + 401*by) %
    4096`` — a constant block's DC coefficient is ``8*(v-2048)``, an
    exact integer, so the 12-bit lossy path round-trips exactly under
    the all-ones quant table and the oracle stays analytic."""

    def row(mid):
        mid = int(mid)
        wb, hb = 1 + mid % 3, 1 + mid % 2
        by, bx = np.ogrid[0:hb, 0:wb]
        blocks = (
            (700 + 29 * mid + 137 * bx + 401 * by) % 4096
        ).astype(np.uint16)
        img = np.kron(blocks, np.ones((8, 8), dtype=np.uint16))
        yield mid, encode_jpeg(img, precision=12)

    return _map_rows(df, [id_col], _SYNTH_SCHEMA, row)


def synthetic_jpeg_media_420(df: DataFrame, id_col: str) -> DataFrame:
    """Deterministic 4:2:0-subsampled COLOR JPEG payloads from an id column
    (test/oracle harness for the chroma-subsampling decode path).

    RGB, (1 + id % 2) x (1 + id % 3) grid of CONSTANT-COLOR 16x16 cells
    (cell == one 4:2:0 MCU), cell (cx, cy) colored
    ``r=(id+11cx+17cy)%256, g=(3id+5cx+7cy)%256, b=(7id+13cx+3cy)%256``,
    all-ones quant table.  Constant cells make every luma block AND every
    box-averaged chroma block constant, so the lossy pipeline is EXACT and
    the decoded RGB is analytically ``ycbcr_to_rgb(rgb_to_ycbcr(color))``
    — a pure double-arithmetic chain (banker's rounding + clip) the SQL
    oracle replays bit-for-bit via ``round_even``.  Any MCU-interleave,
    chroma-upsample, or component-order bug breaks the value hash.
    """

    def row(mid):
        mid = int(mid)
        nx, ny = 1 + mid % 2, 1 + mid % 3
        cy, cx = np.ogrid[0:ny, 0:nx]
        cells = np.stack(
            [
                (mid + 11 * cx + 17 * cy) % 256,
                (3 * mid + 5 * cx + 7 * cy) % 256,
                (7 * mid + 13 * cx + 3 * cy) % 256,
            ],
            axis=-1,
        ).astype(np.uint8)
        img = np.repeat(np.repeat(cells, 16, axis=0), 16, axis=1)
        yield mid, encode_jpeg(img, subsampling="420")

    return _map_rows(df, [id_col], _SYNTH_SCHEMA, row)


def synthetic_jpeg_media_prog(df: DataFrame, id_col: str) -> DataFrame:
    """Deterministic PROGRESSIVE (SOF2) 4:2:0 color JPEG payloads from an
    id column (test/oracle harness for the progressive decode path).

    RGB, (1 + id % 3) x (1 + id % 2) grid of CONSTANT-COLOR 16x16 cells,
    cell (cx, cy) colored ``r=(5id+13cx+7cy)%256, g=(2id+3cx+11cy)%256,
    b=(4id+9cx+5cy)%256``, all-ones quant table, libjpeg-style scan
    script (interleaved DC + successive approximation, split spectral
    bands, AC refinement, EOB runs).  Constant cells keep the lossy chain
    exact — the successive-approximation bitplanes reassemble the integer
    DC exactly and every AC band is pure EOB runs — so the decoded RGB is
    analytically ``ycbcr_to_rgb(rgb_to_ycbcr(color))`` and the SQL oracle
    replays it bit-for-bit via ``round_even``.  A wrong EOB-run length,
    bitplane shift, or non-interleaved band walk breaks the value hash.
    """

    def row(mid):
        mid = int(mid)
        nx, ny = 1 + mid % 3, 1 + mid % 2
        cy, cx = np.ogrid[0:ny, 0:nx]
        cells = np.stack(
            [
                (5 * mid + 13 * cx + 7 * cy) % 256,
                (2 * mid + 3 * cx + 11 * cy) % 256,
                (4 * mid + 9 * cx + 5 * cy) % 256,
            ],
            axis=-1,
        ).astype(np.uint8)
        img = np.repeat(np.repeat(cells, 16, axis=0), 16, axis=1)
        yield mid, encode_jpeg_progressive(img, subsampling="420")

    return _map_rows(df, [id_col], _SYNTH_SCHEMA, row)


def synthetic_gif_media(df: DataFrame, id_col: str) -> DataFrame:
    """Deterministic GIF payloads from an id column (test/oracle harness
    for the LZW decode path).

    Per id: (8 + id%8) x (4 + id%4) image over a 64-color palette,
    ``idx(x,y) = (13*id + 5x + 11y) % 64``, ``palette[i] = ((37i+id)%256,
    (11i+2id)%256, (53i+3id)%256)`` — decoded RGB is a pure modular
    formula the SQL oracle replays exactly (GIF is lossless).  Odd ids
    are written INTERLACED, so the oracle also value-checks the
    four-pass de-interlace (output is identical by construction).
    """

    def row(mid):
        mid = int(mid)
        w, h = 8 + mid % 8, 4 + mid % 4
        y, x = np.ogrid[0:h, 0:w]
        idx = ((13 * mid + 5 * x + 11 * y) % 64).astype(np.uint8)
        i = np.arange(64)
        pal = np.stack(
            [
                (37 * i + mid) % 256,
                (11 * i + 2 * mid) % 256,
                (53 * i + 3 * mid) % 256,
            ],
            axis=-1,
        ).astype(np.uint8)
        yield mid, encode_gif(idx, pal, interlace=bool(mid % 2))

    return _map_rows(df, [id_col], _SYNTH_SCHEMA, row)


def synthetic_wav_media(
    df: DataFrame, id_col: str, seed_col: str | None = None
) -> DataFrame:
    """Deterministic PCM-16 WAV payloads from an id column (test/oracle
    harness).  channels = 1 + seed % 2, frames = 60 + seed % 40,
    sample[j] = ((seed*31 + j*7) % 2001) - 1000 over the interleaved
    stream — decode outputs (sample sum, first samples) are analytic in
    SQL, so any chunk-walk or endianness bug in the codec path breaks the
    oracle.  ``seed_col`` (default: the id itself) decouples payload
    content from identity, so e.g. ``seed = id % 300`` yields a corpus
    with REAL duplicate payloads under distinct media ids (the dedup
    harness case)."""
    cols, unpack = _keyed_cols(id_col, seed_col, None)

    def row(*r):
        mid, sd, _ = unpack(*r)
        sd = mid if sd is None else sd
        channels = 1 + sd % 2
        n = channels * (60 + sd % 40)
        j = np.arange(n, dtype=np.int64)
        samples = ((sd * 31 + j * 7) % 2001 - 1000).astype(np.int16)
        yield mid, encode_wav(samples, channels=channels)

    return _map_rows(df, cols, _SYNTH_SCHEMA, row)


@functools.lru_cache(maxsize=4096)
def _tonal_wav_payload(sd: int, off: int, n_windows: int) -> bytes:
    """The ``synthetic_wav_media_tonal`` track of seed ``sd`` starting at
    logical window ``off``.

    Memoized per Python worker: the WAV bytes are a pure function of
    (seed, offset) — the harness's seed classes (e.g. doc_id % 50) mean
    one task synthesized the identical track many times.  Bounded like
    the AVI memo."""
    j = np.arange(64, dtype=np.float64)
    step = 3 + 2 * (sd % 14)
    chunks = []
    for w in range(n_windows):
        k = 1 + (sd * 7 + (off + w) * step) % 31
        chunks.append(
            np.round(8000.0 * np.sin(2.0 * np.pi * k * j / 64)).astype(np.int16)
        )
    return encode_wav(np.concatenate(chunks), channels=1)


def synthetic_wav_media_tonal(
    df: DataFrame,
    id_col: str,
    seed_col: str | None = None,
    n_windows: int = 8,
    offset_col: str | None = None,
) -> DataFrame:
    """Deterministic TONAL mono PCM-16 WAV payloads (test/oracle harness
    for the spectral-fingerprint path).  Each payload is ``n_windows``
    non-overlapping 64-sample windows; window ``w`` holds an
    exact-bin sine ``round(8000 * sin(2*pi*k*j/64))`` with
    ``k = 1 + (seed*7 + w*(3 + 2*(seed % 14))) % 31`` —
    a per-seed bin STEP (odd, 3..29, never 0 mod the prime 31), so
    different seeds trace different chain
    directions and a landmark pair (bin_w, bin_{w+dt}) pins its seed,
    not just a phase.  (A seed-independent step is the audio analogue
    of the fixed-direction gradient ramp that collided under dHash:
    every track's landmarks land in one global chain, and landmark
    bucket occupancy grows with the CORPUS instead of the content
    group.)  Each window holds an integer number of
    periods, so the window's dominant rfft bin IS ``k`` by
    construction: the main lobe carries amplitude*window/2 (~256,000)
    while PCM quantization contributes <= 0.5 LSB of broadband noise
    (~3 per bin), five orders of magnitude down.  The oracle therefore
    replays the BIN FORMULA in SQL — no FFT needed on the DuckDB side —
    while the Spark side must run the real decode + rfft to reproduce
    it.  ``seed_col`` (e.g. ``doc_id % 50``) yields real duplicate
    payloads under distinct ids, the audio-dedup harness case.
    ``offset_col`` names a per-row starting window PHASE: the payload's
    window ``w`` carries the tone of logical window ``offset + w`` — a
    time-shifted ("clipped intro") rendition of the same content, the
    case landmark retrieval handles and the global fingerprint does
    not."""
    cols, unpack = _keyed_cols(id_col, seed_col, offset_col)

    def row(*r):
        mid, sd, off = unpack(*r)
        yield mid, _tonal_wav_payload(
            mid if sd is None else sd, off or 0, n_windows
        )

    return _map_rows(df, cols, _SYNTH_SCHEMA, row)


def audio_spectral_peaks(df: DataFrame) -> DataFrame:
    """(media_id, win, peak_bin): dominant rfft POWER bin per full
    non-overlapping 64-frame window of channel 0 — the spectral
    primitive under audio fingerprinting (a track's peak-bin sequence is
    its content address; Shazam-style retrieval hashes pairs of these).

    Scale shape: Arrow-batched ``mapInPandas``, the window reshape and
    FFT vectorized per payload (one 2-D ``rfft`` call, no Python loop
    over windows) — map-only, no shuffle; output is
    O(total_frames / 64) integer rows.
    """
    window = 64

    def row(media_id, payload):
        samples, channels, _ = decode_wav(bytes(payload))
        ch0 = samples[:: max(channels, 1)].astype(np.float64)
        n_full = len(ch0) // window
        if not n_full:
            return
        frames = ch0[: n_full * window].reshape(n_full, window)
        power = np.abs(np.fft.rfft(frames, axis=1)) ** 2
        for w_idx, b in enumerate(power.argmax(axis=1)):
            yield int(media_id), w_idx, int(b)

    schema = T.StructType(
        [
            T.StructField("media_id", T.LongType()),
            T.StructField("win", T.IntegerType()),
            T.StructField("peak_bin", T.IntegerType()),
        ]
    )
    return _map_rows(df, ["media_id", "content"], schema, row)


def audio_fingerprint(df: DataFrame) -> DataFrame:
    """(media_id, fingerprint): md5 of the win-ordered comma-joined
    peak-bin sequence of 64-frame windows — a compact content address
    for exact audio dedup (the WAV analogue of ``image_dhash``'s exact-group path; byte-level
    container or encoder differences that preserve the audible content
    collapse to one fingerprint).  One map-only spectral pass, one
    16-byte-per-track aggregate shuffle."""
    peaks = audio_spectral_peaks(df)
    seq = F.transform(
        F.array_sort(F.collect_list(F.struct("win", "peak_bin"))),
        lambda s: s["peak_bin"].cast("string"),
    )
    return peaks.groupBy("media_id").agg(
        F.md5(F.concat_ws(",", seq)).alias("fingerprint")
    )


def audio_landmarks(peaks: DataFrame, max_dt: int = 3) -> DataFrame:
    """(media_id, a_bin, b_bin, dt): Shazam-style landmark keys — ordered
    pairs of dominant bins ``dt`` windows apart (1 <= dt <= ``max_dt``).
    Any other peak column besides ``win``/``peak_bin`` must be constant
    per track (such as the incremental serve's ``_new`` tag) and rides
    through next to ``media_id``.

    A landmark is LOCAL to a dt-window span, so a time-shifted rendition
    of the same content (clipped intro, concatenation) shares most of
    its landmarks with the original even though every global digest of
    the full bin sequence differs — the property retrieval needs and
    ``audio_fingerprint`` deliberately does not have.

    Built row-locally: one groupBy collects each track's win-ordered bin
    array, then nested higher-order functions enumerate (position, dt)
    pairs — no self-join, no per-landmark shuffle.  Output is DISTINCT
    per (media, key): a track contributes each key once, so downstream
    match counts are set intersections.

    PRODUCTION GEOMETRY (catalog-scale keyspace arithmetic — the same
    checkable-vs-scalable note as SimHash-16 vs -64 and SemDeDup's k):
    the retrieval join buckets on the key (a_bin, b_bin, dt), so its
    health is keyspace vs landmark count.  The 64-frame
    ``audio_spectral_peaks`` window yields 33 rfft bins; with
    ``max_dt=3`` that is 33 x 33 x 3 ≈ 3.3e3 distinct keys — fine for
    the 500k-track test grid (~10 landmarks/track → ~1.5e3 rows/bucket
    pre-cap) but SATURATED at catalog scale: 1e8 tracks x ~1e2 landmarks
    = 1e10 rows over 3.3e3 keys ≈ 3e6 rows/bucket, where the
    combined-occupancy cap would prune essentially every bucket (no
    retrieval) and uncapped pair generation is ~1e16 candidates (no
    run).  A real deployment raises ``max_dt`` here and the spectral
    window (a constant of ``audio_spectral_peaks``): window=1024+ (513+
    bins) and max_dt≈64 fan-out gives 513^2 x 64 ≈ 1.7e7 keys — 1e10
    landmarks land ~6e2 rows/bucket, so the cap trims only degenerate
    (tonal/silence) keys and per-bucket pair volume stays bounded.
    Keyspace must scale with the catalog, exactly as SemDeDup scales k
    with the corpus (SCALING.md 'Audio landmark keyspace' has the full
    arithmetic).
    """
    tags = [c for c in peaks.columns if c not in ("media_id", "win", "peak_bin")]
    track = ["media_id", *tags]
    arr = peaks.groupBy("media_id").agg(
        F.array_sort(F.collect_list(F.struct("win", "peak_bin"))).alias("s"),
        *[F.first(c).alias(c) for c in tags],
    )
    n = F.size("s")
    # sequence() descends when start > stop — guard both ranges, then
    # filter to the valid (i, i + dt <= n - 1) triangle
    cand = F.flatten(
        F.transform(
            F.sequence(F.lit(0), F.greatest(n - 2, F.lit(0))),
            lambda i: F.transform(
                F.sequence(F.lit(1), F.lit(max_dt)),
                lambda d: F.struct(
                    # try_element_at: the (i, dt) rectangle overhangs the
                    # triangle; out-of-range structs are NULL-filled here
                    # and dropped by the _end filter below
                    F.try_element_at("s", i + 1)["peak_bin"].alias("a_bin"),
                    F.try_element_at("s", i + d + 1)["peak_bin"].alias("b_bin"),
                    d.cast("int").alias("dt"),
                    (i + d).alias("_end"),
                ),
            ),
        )
    )
    lm = arr.where(n >= 2).select(
        *track,
        F.explode(F.filter(cand, lambda c: c["_end"] <= n - 1)).alias("c"),
    )
    return lm.select(
        *track,
        F.col("c.a_bin").alias("a_bin"),
        F.col("c.b_bin").alias("b_bin"),
        F.col("c.dt").alias("dt"),
    ).distinct()


def audio_landmark_matches(peaks: DataFrame) -> DataFrame:
    """Offset-robust audio near-dup retrieval: tracks sharing at least 10
    landmark keys (``max_dt=3``).  Output: (id_a, id_b, n_matches),
    id_a < id_b.

    Candidates join on the landmark key (a_bin, b_bin, dt) — pair
    generation is quadratic PER KEY, and exact-duplicate mega-clusters
    make keys arbitrarily hot (every copy of a track shares its whole
    key set), so key buckets are CAPPED at 64 combined occupancy,
    exactly the dHash/MinHash dial: oversized buckets prune whole
    (replayed in the oracle), and mega-cluster exact duplicates belong
    to the linear ``audio_fingerprint`` groupBy, not the retrieval
    join."""
    lm = audio_landmarks(peaks, max_dt=3)
    lm = prune_df_window(lm, ["a_bin", "b_bin", "dt"], 64)
    a = lm.toDF("id_a", "a_bin", "b_bin", "dt")
    b = lm.toDF("id_b", "a_bin", "b_bin", "dt")
    return (
        a.join(b, ["a_bin", "b_bin", "dt"])
        .where(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count("*").cast("long").alias("n_matches"))
        .where(F.col("n_matches") >= 10)
    )


def audio_landmark_table(peaks: DataFrame, max_dt: int = 3) -> DataFrame:
    """(media_id, a_bin, b_bin, dt) — the UNCAPPED landmark-key table for
    an audio catalog: what a production deployment computes ONCE at
    ingest (decode + spectral peaks + landmark triangle) and stores
    partitioned on ``dt`` as the catalog fingerprint index.  Feed a
    stored copy back to :func:`audio_landmark_matches_incremental` via
    ``corpus_index`` so an incremental batch pays synthesis/decode + FFT
    + landmark build only for its own tracks; the catalog side is then a
    decode-free parquet scan — the FOURTH stored-index family, closing
    the contract across every heavy-fold incremental (SimHash-64 text,
    IVF cells, dHash images, audio landmarks).  Rows carry the
    ``index_fp`` build stamp including ``max_dt`` (the one build
    parameter that changes the stored landmark set), asserted at serve
    time — an index built with a smaller ``max_dt`` than the serve-time
    value would otherwise silently drop matches."""
    from .indexstamp import stamp_index

    return stamp_index(
        audio_landmarks(peaks, max_dt=max_dt),
        "audio_landmark_table",
        max_dt=max_dt,
    )


def audio_landmark_matches_incremental(
    peaks_batch: DataFrame,
    peaks_corpus: DataFrame | None,
    max_dt: int = 3,
    min_matches: int = 10,
    max_bucket_size: int | None = 64,
    corpus_index: DataFrame | None = None,
    corpus_occupancy: DataFrame | None = None,
) -> DataFrame:
    """INCREMENTAL landmark retrieval — an incoming batch of tracks
    matched against itself and the existing corpus, NEVER corpus x
    corpus (the audio analogue of ``dhash_near_duplicates_incremental``,
    completing the incremental form across every near-dup family:
    Jaccard, MinHash, SimHash, dHash, and landmarks).

    A nightly audio ingest does not re-match the whole catalog; per
    landmark key the candidate volume here is O(|key ∩ batch| x |key|)
    — the batch side is the build side of the key join, so catalog
    growth costs a bigger probe side, not a quadratic re-pairing.

    Semantics equal ``audio_landmark_matches`` over the UNION of the
    two peak inputs restricted to pairs with at least one batch track
    (pinned in ``test_asof_multimodal.py``): ``max_bucket_size`` counts
    COMBINED (batch ∪ corpus) key occupancy — a key hot in the catalog
    must prune even when the batch contributes one row — and a
    batch-batch pair is generated from BOTH of its rows while a
    batch-corpus pair is generated once, so each hit is weighted 1/2
    when the probe row is also a batch row; n_matches is a set
    intersection, the 0.5 sum is exact in binary and integral.  Ids
    must be unique across the two inputs.  Output: (id_a, id_b,
    n_matches), id_a < id_b.

    ``corpus_index`` (a stored :func:`audio_landmark_table`, in place of
    ``peaks_corpus``: no audio bytes read, no FFT, no landmark triangle
    for catalog tracks) and ``corpus_occupancy`` follow the shared
    stored-index contract of ``dedup._serve_rows``.  The stored table
    must have been built with the SAME ``max_dt`` — ENFORCED via its
    ``index_fp`` build stamp, not just documented.
    """
    from .cache import attach_cached

    keys = ["a_bin", "b_bin", "dt"]
    lm, handles = _serve_rows(
        peaks_batch,
        peaks_corpus,
        lambda peaks: audio_landmarks(peaks, max_dt=max_dt),
        corpus_index,
        corpus_occupancy,
        "audio_landmark_table",
        {"max_dt": max_dt},
        ["media_id", *keys],
        keys,
        max_bucket_size,
    )
    a = lm.where(F.col("_new")).select(
        F.col("media_id").alias("id_a"), "a_bin", "b_bin", "dt"
    )
    b = lm.select(
        F.col("media_id").alias("id_b"),
        "a_bin",
        "b_bin",
        "dt",
        F.when(F.col("_new"), F.lit(0.5)).otherwise(F.lit(1.0)).alias("_w"),
    )
    out = (
        a.join(b, ["a_bin", "b_bin", "dt"])
        .where(F.col("id_a") != F.col("id_b"))
        .select(
            F.least("id_a", "id_b").alias("id_a"),
            F.greatest("id_a", "id_b").alias("id_b"),
            "_w",
        )
        .groupBy("id_a", "id_b")
        # round() before the cast: the sum is integral only because every
        # batch-batch pair is generated from BOTH orientations (0.5 + 0.5);
        # if that invariant ever breaks (an asymmetric pruning change), a
        # bare cast would TRUNCATE and silently under-count below
        # min_matches — rounding turns the break into a value mismatch the
        # oracle catches.
        .agg(F.round(F.sum("_w")).cast("long").alias("n_matches"))
        .where(F.col("n_matches") >= min_matches)
    )
    return attach_cached(out, *handles)


def frame_sample(df: DataFrame, every_n: int = 10) -> DataFrame:
    """Video frame-sampling stub: emits (media_id, frame_idx) rows.

    Real frame extraction exists for MJPEG-in-AVI payloads since r8 —
    use :func:`video_frames` (full RIFF walk + per-frame JPEG decode).
    This function's contract is payload-length-derived frame counts for
    arbitrary/opaque codecs (1 frame per 64 bytes, every ``every_n``-th
    sampled).
    """
    n_frames = F.greatest(
        (F.octet_length(F.col("content")) / F.lit(64)).cast("int"), F.lit(1)
    )
    idx = F.sequence(F.lit(0), n_frames - 1, F.lit(every_n))
    return df.select(F.col("media_id"), F.explode(idx).alias("frame_idx"))
