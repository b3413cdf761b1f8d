"""Pixel-level raster/audio codecs — standard library + numpy ONLY.

This is the REAL pixel tier the metadata tier (`multimodal.py`) points
at: full PNG raster decode (zlib inflate + scanline un-filtering per the
PNG spec's five filter types), uncompressed-BMP decode, deterministic
nearest-neighbor resize, PNG re-encode, and FFT spectrogram features for
PCM audio. No PIL/libjpeg/ffmpeg anywhere — PNG's entropy layer is zlib
(stdlib), its prediction filters are pure integer arithmetic, GIF's LZW
is self-contained enough to implement directly (``_lzw_decode`` /
``lzw_encode``), and baseline JPEG is canonical Huffman (spec BITS/
HUFFVAL lists) plus an 8x8 DCT — numpy matrix algebra — implemented as
``jpeg_decode`` / ``jpeg_encode`` below (grayscale + 4:4:4, restart
markers, byte stuffing; hand-assembled spec vector in the tests).
Video: Motion-JPEG AVI demux is real too (RIFF chunk walk +
``jpeg_decode`` per frame); only non-MJPEG video codecs (H.264 etc.)
remain in the env-gated stub tier.

Determinism notes (these functions feed oracle-checked queries):
- resize uses INTEGER index mapping ``src = (dst_i * src_n) // dst_n``
  — no float rounding anywhere, same pixels on every platform.
- spectrogram DOMINANT-BIN selection is an argmax over FFT magnitudes;
  the magnitudes are floats but the argmax of a clearly-peaked spectrum
  is stable; only integer outputs (bin index, window count) ever enter
  a correctness surface.

The module registers itself with cloudpickle BY VALUE (the
``pydatasource.py`` discipline): executors never import this repo, so
any ``mapInPandas`` closure capturing these functions must carry their
bytecode along.
"""

from __future__ import annotations

import struct
import sys
import zlib

import numpy as np

try:
    from pyspark import cloudpickle
except ImportError:  # pragma: no cover - import-layout fallback
    import pyspark.cloudpickle as cloudpickle  # type: ignore[no-redef]
cloudpickle.register_pickle_by_value(sys.modules[__name__])

PNG_SIG = b"\x89PNG\r\n\x1a\n"
_PNG_CHANNELS = {0: 1, 2: 3, 4: 2, 6: 4}


def png_decode(b: bytes) -> np.ndarray | None:
    """Full PNG raster decode → ``(h, w, channels)`` uint8 array, or
    None for non-PNG / unsupported variants (bit depths other than 8,
    interlacing) / corrupt streams. Indexed-color (PLTE) images decode
    through the palette to RGB, like the GIF path.

    Scanline reconstruction implements all five spec filters. Filter 0
    (None) and 2 (Up) are fully vectorized; Sub/Average/Paeth carry a
    sequential data dependency along x by definition, so those rows run
    a per-byte loop — encoders targeting this pipeline (``png_encode``)
    emit filter 0, keeping the hot path vectorized.
    """
    if b[:8] != PNG_SIG:
        return None
    pos, w = 8, None
    h = depth = ctype = interlace = None
    idat = []
    plte = None
    try:
        while pos + 8 <= len(b):
            (ln,) = struct.unpack(">I", b[pos : pos + 4])
            tag = b[pos + 4 : pos + 8]
            body = b[pos + 8 : pos + 8 + ln]
            if len(body) != ln:
                return None
            if tag == b"IHDR":
                w, h, depth, ctype, _comp, _filt, interlace = struct.unpack(
                    ">IIBBBBB", body
                )
            elif tag == b"PLTE":
                if ln % 3:
                    return None
                plte = np.frombuffer(body, np.uint8).reshape(-1, 3)
            elif tag == b"IDAT":
                idat.append(body)
            elif tag == b"IEND":
                break
            pos += 12 + ln  # len + tag + body + crc
        if w is None or depth != 8 or interlace != 0:
            return None
        if ctype == 3:  # indexed color: one palette index per pixel
            if plte is None:
                return None
            channels = 1
        else:
            channels = _PNG_CHANNELS.get(ctype)
            if channels is None:
                return None
        raw = zlib.decompress(b"".join(idat))
    except (struct.error, zlib.error):
        return None
    stride = w * channels
    if len(raw) != (stride + 1) * h:
        return None
    rows = np.frombuffer(raw, np.uint8).reshape(h, stride + 1)
    filters = rows[:, 0]
    data = rows[:, 1:].astype(np.int16)
    out = np.zeros((h, stride), np.uint8)
    bpp = channels
    for y in range(h):
        f = int(filters[y])
        prior = out[y - 1].astype(np.int16) if y else np.zeros(stride, np.int16)
        row = data[y].copy()
        if f == 0:
            rec = row
        elif f == 2:
            rec = row + prior
        elif f == 1:
            rec = row
            for x in range(bpp, stride):
                rec[x] = (rec[x] + rec[x - bpp]) & 0xFF
        elif f == 3:
            rec = row
            for x in range(stride):
                left = rec[x - bpp] if x >= bpp else 0
                rec[x] = (rec[x] + ((int(left) + int(prior[x])) >> 1)) & 0xFF
        elif f == 4:
            rec = row
            for x in range(stride):
                a = int(rec[x - bpp]) if x >= bpp else 0
                c = int(prior[x - bpp]) if x >= bpp else 0
                up = int(prior[x])
                p = a + up - c
                pa, pb, pc = abs(p - a), abs(p - up), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else (up if pb <= pc else c)
                rec[x] = (rec[x] + pred) & 0xFF
        else:
            return None
        out[y] = (rec & 0xFF).astype(np.uint8)
    if ctype == 3:  # palette lookup -> RGB, like the GIF path
        idx = out.reshape(h, w).astype(np.int32)
        if idx.max(initial=0) >= len(plte):
            return None
        return plte[idx]
    return out.reshape(h, w, channels)


def png_encode(arr: np.ndarray) -> bytes:
    """Minimal spec-correct PNG encoder: 8-bit, filter 0 per scanline,
    one zlib IDAT. Accepts ``(h, w)`` or ``(h, w, c)`` with c in
    {1, 2, 3, 4}."""
    if arr.ndim == 2:
        arr = arr[:, :, None]
    h, w, c = arr.shape
    ctype = {1: 0, 2: 4, 3: 2, 4: 6}[c]

    def chunk(tag: bytes, body: bytes) -> bytes:
        return (
            struct.pack(">I", len(body))
            + tag
            + body
            + struct.pack(">I", zlib.crc32(tag + body) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", w, h, 8, ctype, 0, 0, 0)
    body = b"".join(
        b"\x00" + arr[y].astype(np.uint8).tobytes() for y in range(h)
    )
    return (
        PNG_SIG
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(body))
        + chunk(b"IEND", b"")
    )


def bmp_decode(b: bytes) -> np.ndarray | None:
    """Uncompressed 24-bit BI_RGB BMP → ``(h, w, 3)`` uint8 RGB.
    Handles the spec's bottom-up row order and 4-byte row padding;
    top-down (negative height) also supported."""
    if b[:2] != b"BM" or len(b) < 54:
        return None
    (data_off,) = struct.unpack("<I", b[10:14])
    (hdr_size,) = struct.unpack("<I", b[14:18])
    if hdr_size < 40:
        return None
    w, h_raw = struct.unpack("<ii", b[18:26])
    planes, bpp = struct.unpack("<HH", b[26:30])
    (compression,) = struct.unpack("<I", b[30:34])
    if planes != 1 or bpp != 24 or compression != 0 or w <= 0:
        return None
    h = abs(h_raw)
    stride = (w * 3 + 3) & ~3
    if len(b) < data_off + stride * h:
        return None
    raw = np.frombuffer(b, np.uint8, count=stride * h, offset=data_off)
    rows = raw.reshape(h, stride)[:, : w * 3].reshape(h, w, 3)
    if h_raw > 0:  # bottom-up storage
        rows = rows[::-1]
    return rows[:, :, ::-1].copy()  # BGR -> RGB


def resize_nearest(arr: np.ndarray, target_w: int, target_h: int) -> np.ndarray:
    """Nearest-neighbor resample with pure-integer index mapping
    ``src = (dst_index * src_n) // dst_n`` — deterministic on every
    platform (no float coordinates), the property the oracle-checked
    pixel queries rely on."""
    h, w = arr.shape[0], arr.shape[1]
    ys = (np.arange(target_h, dtype=np.int64) * h) // target_h
    xs = (np.arange(target_w, dtype=np.int64) * w) // target_w
    return arr[ys][:, xs]


def decode_raster(b: bytes) -> np.ndarray | None:
    """Dispatch: PNG, BMP, GIF, or baseline JPEG raster, else None
    (only video-frame demux remains env-gated)."""
    if b[:8] == PNG_SIG:
        return png_decode(b)
    if b[:2] == b"BM":
        return bmp_decode(b)
    if b[:6] in (b"GIF87a", b"GIF89a"):
        return gif_decode(b)
    if b[:2] == b"\xff\xd8":
        return jpeg_decode(b)
    return None


def spectrogram(samples: np.ndarray, n_fft: int = 256) -> np.ndarray:
    """Magnitude spectrogram over non-overlapping ``n_fft`` windows:
    ``(n_windows, n_fft // 2 + 1)``. Trailing partial window dropped —
    window count stays a closed-form function of the frame count."""
    n = (len(samples) // n_fft) * n_fft
    if n == 0:
        return np.zeros((0, n_fft // 2 + 1))
    frames = samples[:n].astype(np.float64).reshape(-1, n_fft)
    return np.abs(np.fft.rfft(frames, axis=1))


def dominant_bin(samples: np.ndarray, n_fft: int = 256) -> tuple[int, int]:
    """(argmax frequency bin of the mean magnitude spectrum, window
    count). Ties resolve to the lowest bin (np.argmax semantics)."""
    spec = spectrogram(samples, n_fft)
    if spec.shape[0] == 0:
        return -1, 0
    return int(spec.mean(axis=0).argmax()), int(spec.shape[0])


def _lzw_codes_fixed_width(data: bytes, width: int) -> np.ndarray:
    """All ``width``-bit LSB-first codes in ``data``, vectorized
    (trailing partial code dropped, as the bit reader would)."""
    bits = np.unpackbits(np.frombuffer(data, np.uint8), bitorder="little")
    n = bits.size // width
    weights = (1 << np.arange(width, dtype=np.int64))
    return bits[: n * width].reshape(n, width).astype(np.int64) @ weights


def _lzw_decode_uncompressed(
    data: bytes, min_code_size: int
) -> list[int] | None:
    """Vectorized fast path for CLEAR-heavy ("uncompressed") LZW — the
    real-world GIF variant that interleaves CLEAR codes so the table
    never grows and the code width never escalates (many encoders emit
    it to skip dictionary management; the synthetic-media encoder in
    operators/multimodal.py is one). Validity is CHECKED, not assumed:
    any run of ≥2 literal codes would add table entries (so a later
    code could reference them and the fixed-width premise could break),
    and the general decoder takes over. On the valid pattern every
    emitted code is a single literal pixel, so the output is just the
    literal codes up to EOI — one numpy pass instead of a per-code
    Python loop (the decode was the multimodal family's measured hot
    spot: ~16 s single-core per sweep at sf0.1, ~0.3 s vectorized).

    Returns None for ``min_code_size < 2``: at 1 the initial table
    size 2^1+2 already equals 2^width, so the general loop escalates
    the width after the first literal even on this pattern and
    fixed-width extraction would misread everything after it. A
    leading CLEAR is not required: a leading literal is rejected by
    the follows-a-CLEAR check below, and a leading EOI decodes to
    ``[]`` exactly as the loop does."""
    if min_code_size < 2:
        return None
    clear = 1 << min_code_size
    eoi = clear + 1
    codes = _lzw_codes_fixed_width(data, min_code_size + 1)
    if codes.size == 0:
        return None
    ends = np.flatnonzero(codes == eoi)
    if ends.size:
        codes = codes[: ends[0]]
    is_clear = codes == clear
    lit_pos = np.flatnonzero(~is_clear)
    if lit_pos.size == 0:
        return []
    # every literal must directly follow a CLEAR (no table growth) and
    # be an actual root code; anything else → general decoder
    if (codes[lit_pos] >= clear).any():
        return None
    if (lit_pos == 0).any() or not is_clear[lit_pos - 1].all():
        return None
    return codes[lit_pos].tolist()


def _lzw_decode(data: bytes, min_code_size: int) -> list[int] | None:
    """General GIF-variant LZW decode (LSB-first bit packing, growing
    code widths up to 12 bits, CLEAR/EOI handling) → pixel index list.

    Tries the vectorized uncompressed-variant fast path first (exact —
    it validates the pattern and defers to the loop otherwise; their
    equivalence is property-tested against each other on accepted,
    rejected, and garbage streams)."""
    if min_code_size <= 8:
        fast = _lzw_decode_uncompressed(data, min_code_size)
        if fast is not None:
            return fast
    return _lzw_decode_loop(data, min_code_size)


def _lzw_decode_loop(data: bytes, min_code_size: int) -> list[int] | None:
    """The general per-code decode loop. Table entries are ``bytes``
    (pixel indices are < 2^min_code_size ≤ 256 by spec) so entry
    concatenation and output append are C memcpy, not per-pixel list
    work."""
    clear = 1 << min_code_size
    eoi = clear + 1
    width = min_code_size + 1
    roots = [bytes([i]) for i in range(clear)]
    table: list[bytes] = roots + [b"", b""]
    out = bytearray()
    prev: bytes | None = None
    acc = nbits = 0
    for byte in data:
        acc |= byte << nbits
        nbits += 8
        while nbits >= width:
            code = acc & ((1 << width) - 1)
            acc >>= width
            nbits -= width
            if code == clear:
                table = roots + [b"", b""]
                width = min_code_size + 1
                prev = None
                continue
            if code == eoi:
                return list(out)
            if prev is None:
                if code >= len(table):
                    return None
                entry = table[code]
            elif code < len(table):
                entry = table[code]
                table.append(prev + entry[:1])
            elif code == len(table):
                entry = prev + prev[:1]
                table.append(entry)
            else:
                return None
            out += entry
            prev = entry
            if len(table) == (1 << width) and width < 12:
                width += 1
    return list(out)


def gif_decode(b: bytes) -> np.ndarray | None:
    """GIF87a/89a raster decode → ``(h, w, 3)`` uint8 RGB via the color
    table — pure-Python LZW (the format's only entropy coder), no
    codec library. First image only; interlace unsupported (returns
    None); extension blocks skipped per spec."""
    if b[:6] not in (b"GIF87a", b"GIF89a") or len(b) < 13:
        return None
    _sw, _sh = struct.unpack("<HH", b[6:10])
    packed = b[10]
    pos = 13
    gct = None
    if packed & 0x80:
        n = 2 << (packed & 0x07)
        gct = np.frombuffer(b, np.uint8, count=3 * n, offset=pos).reshape(n, 3)
        pos += 3 * n
    try:
        while pos < len(b):
            marker = b[pos]
            if marker == 0x21:  # extension: skip sub-blocks
                pos += 2
                while b[pos] != 0:
                    pos += 1 + b[pos]
                pos += 1
            elif marker == 0x2C:  # image descriptor
                _ix, _iy, w, h = struct.unpack("<HHHH", b[pos + 1 : pos + 9])
                ipacked = b[pos + 9]
                pos += 10
                pal = gct
                if ipacked & 0x80:  # local color table
                    n = 2 << (ipacked & 0x07)
                    pal = np.frombuffer(
                        b, np.uint8, count=3 * n, offset=pos
                    ).reshape(n, 3)
                    pos += 3 * n
                if ipacked & 0x40 or pal is None:  # interlace / no palette
                    return None
                mcs = b[pos]
                pos += 1
                stream = bytearray()
                while b[pos] != 0:
                    ln = b[pos]
                    stream += b[pos + 1 : pos + 1 + ln]
                    pos += 1 + ln
                idx = _lzw_decode(bytes(stream), mcs)
                if idx is None or len(idx) < w * h:
                    return None
                pix = np.asarray(idx[: w * h], dtype=np.int32)
                if pix.max(initial=0) >= len(pal):
                    return None
                return pal[pix].reshape(h, w, 3)
            elif marker == 0x3B:  # trailer before any image
                return None
            else:
                return None
    except IndexError:
        return None
    return None


def lzw_encode(indices: list[int], min_code_size: int) -> bytes:
    """True compressing GIF-LZW encoder (dictionary growth, width
    escalation, table-full clear) — the counterpart ``_lzw_decode`` is
    tested against. LSB-first packing."""
    clear = 1 << min_code_size
    eoi = clear + 1
    out = bytearray()
    acc = nbits = 0

    def emit(code: int, width: int) -> None:
        nonlocal acc, nbits
        acc |= code << nbits
        nbits += width
        while nbits >= 8:
            out.append(acc & 0xFF)
            acc >>= 8
            nbits -= 8

    table: dict[tuple[int, ...], int] = {(i,): i for i in range(clear)}
    next_code = eoi + 1
    width = min_code_size + 1
    emit(clear, width)
    seq: tuple[int, ...] = ()
    for px in indices:
        cand = seq + (px,)
        if cand in table:
            seq = cand
            continue
        emit(table[seq], width)
        table[cand] = next_code
        next_code += 1
        if next_code - 1 == (1 << width) and width < 12:
            width += 1
        if next_code == 4096:
            emit(clear, width)
            table = {(i,): i for i in range(clear)}
            next_code = eoi + 1
            width = min_code_size + 1
        seq = (px,)
    if seq:
        emit(table[seq], width)
    emit(eoi, width)
    if nbits:
        out.append(acc & 0xFF)
    return bytes(out)


# ---------------------------------------------------------------------------
# Baseline JPEG (ITU T.81 sequential DCT, 8-bit): pure Python + numpy.
# Entropy layer is canonical Huffman (buildable from the spec's BITS/
# HUFFVAL lists), the transform is an 8x8 DCT — numpy matrix algebra — so
# like PNG/GIF nothing here needs libjpeg. Supported: grayscale and 4:4:4
# YCbCr, no progressive, no arithmetic coding, restart markers honored.
# ---------------------------------------------------------------------------
_ZIGZAG = np.array([
     0,  1,  8, 16,  9,  2,  3, 10, 17, 24, 32, 25, 18, 11,  4,  5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13,  6,  7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
])

# standard quantization tables (T.81 Annex K.1) in zigzag-natural order
_STD_LUMA_Q = np.array([
    16, 11, 10, 16, 24, 40, 51, 61, 12, 12, 14, 19, 26, 58, 60, 55,
    14, 13, 16, 24, 40, 57, 69, 56, 14, 17, 22, 29, 51, 87, 80, 62,
    18, 22, 37, 56, 68, 109, 103, 77, 24, 35, 55, 64, 81, 104, 113, 92,
    49, 64, 78, 87, 103, 121, 120, 101, 72, 92, 95, 98, 112, 100, 103, 99,
]).reshape(8, 8)
_STD_CHROMA_Q = np.array([
    17, 18, 24, 47, 99, 99, 99, 99, 18, 21, 26, 66, 99, 99, 99, 99,
    24, 26, 56, 99, 99, 99, 99, 99, 47, 66, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99,
]).reshape(8, 8)

# standard Huffman specs (T.81 Annex K.3): (BITS[1..16], HUFFVAL)
_STD_DC_LUMA = (
    [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0],
    list(range(12)),
)
_STD_DC_CHROMA = (
    [0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0],
    list(range(12)),
)
_STD_AC_LUMA = (
    [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D],
    [
        0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12, 0x21, 0x31, 0x41,
        0x06, 0x13, 0x51, 0x61, 0x07, 0x22, 0x71, 0x14, 0x32, 0x81, 0x91,
        0xA1, 0x08, 0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0, 0x24,
        0x33, 0x62, 0x72, 0x82, 0x09, 0x0A, 0x16, 0x17, 0x18, 0x19, 0x1A,
        0x25, 0x26, 0x27, 0x28, 0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38,
        0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49, 0x4A, 0x53,
        0x54, 0x55, 0x56, 0x57, 0x58, 0x59, 0x5A, 0x63, 0x64, 0x65, 0x66,
        0x67, 0x68, 0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78, 0x79,
        0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89, 0x8A, 0x92, 0x93,
        0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5,
        0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6, 0xB7,
        0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7, 0xC8, 0xC9,
        0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1,
        0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF1, 0xF2,
        0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA,
    ],
)
_STD_AC_CHROMA = (
    [0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 0x77],
    [
        0x00, 0x01, 0x02, 0x03, 0x11, 0x04, 0x05, 0x21, 0x31, 0x06, 0x12,
        0x41, 0x51, 0x07, 0x61, 0x71, 0x13, 0x22, 0x32, 0x81, 0x08, 0x14,
        0x42, 0x91, 0xA1, 0xB1, 0xC1, 0x09, 0x23, 0x33, 0x52, 0xF0, 0x15,
        0x62, 0x72, 0xD1, 0x0A, 0x16, 0x24, 0x34, 0xE1, 0x25, 0xF1, 0x17,
        0x18, 0x19, 0x1A, 0x26, 0x27, 0x28, 0x29, 0x2A, 0x35, 0x36, 0x37,
        0x38, 0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49, 0x4A,
        0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59, 0x5A, 0x63, 0x64, 0x65,
        0x66, 0x67, 0x68, 0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78,
        0x79, 0x7A, 0x82, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89, 0x8A,
        0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3,
        0xA4, 0xA5, 0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5,
        0xB6, 0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7,
        0xC8, 0xC9, 0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9,
        0xDA, 0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF2,
        0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA,
    ],
)


def _dct_matrix() -> np.ndarray:
    u, x = np.meshgrid(np.arange(8), np.arange(8), indexing="ij")
    c = np.cos((2 * x + 1) * u * np.pi / 16)
    c[0] *= np.sqrt(1 / 2)
    return c * 0.5  # orthonormal: C @ C.T = I


_DCT_C = _dct_matrix()


def _huffman_decode_table(bits: list[int], vals: list[int]) -> dict[tuple[int, int], int]:
    """(length, code) -> value, canonical assignment per T.81 C.2."""
    table = {}
    code = 0
    k = 0
    for ln in range(1, 17):
        for _ in range(bits[ln - 1]):
            table[(ln, code)] = vals[k]
            code += 1
            k += 1
        code <<= 1
    return table


def _huffman_encode_table(bits: list[int], vals: list[int]) -> dict[int, tuple[int, int]]:
    """value -> (code, length)."""
    return {v: (c, ln) for (ln, c), v in _huffman_decode_table(bits, vals).items()}


class _BitReader:
    """MSB-first bit reader over entropy-coded data with FF00 unstuffing;
    stops at any non-RST marker."""

    def __init__(self, b: bytes, pos: int):
        self.b = b
        self.pos = pos
        self.acc = 0
        self.nbits = 0

    def _fill(self) -> bool:
        if self.pos >= len(self.b):
            return False
        byte = self.b[self.pos]
        if byte == 0xFF:
            nxt = self.b[self.pos + 1] if self.pos + 1 < len(self.b) else None
            if nxt != 0x00:
                return False  # RST/EOI/segment marker — caller handles
            self.pos += 2  # stuffed FF00 -> literal 0xFF data byte
        else:
            self.pos += 1
        self.acc = (self.acc << 8) | byte
        self.nbits += 8
        return True

    def read_bit(self) -> int | None:
        if self.nbits == 0 and not self._fill():
            return None
        self.nbits -= 1
        return (self.acc >> self.nbits) & 1

    def read_bits(self, n: int) -> int | None:
        v = 0
        for _ in range(n):
            bit = self.read_bit()
            if bit is None:
                return None
            v = (v << 1) | bit
        return v

    def resync_restart(self) -> bool:
        """Skip to just past the next RSTn marker; reset bit state."""
        self.acc = self.nbits = 0
        while self.pos + 1 < len(self.b):
            if self.b[self.pos] == 0xFF and 0xD0 <= self.b[self.pos + 1] <= 0xD7:
                self.pos += 2
                return True
            self.pos += 1
        return False

    def read_huffman(self, table: dict[tuple[int, int], int]) -> int | None:
        code = 0
        for ln in range(1, 17):
            bit = self.read_bit()
            if bit is None:
                return None
            code = (code << 1) | bit
            if (ln, code) in table:
                return table[(ln, code)]
        return None


def _extend(v: int, t: int) -> int:
    """T.81 F.2.2.1 sign extension of a t-bit magnitude."""
    if t == 0:
        return 0
    return v if v >= (1 << (t - 1)) else v - (1 << t) + 1


def jpeg_decode(b: bytes) -> np.ndarray | None:
    """Baseline JPEG raster decode → ``(h, w, 1|3)`` uint8 (gray or
    RGB), or None for progressive/arithmetic/12-bit streams and corrupt
    data. Supports grayscale and YCbCr with any 1-2 sampling factors
    (4:4:4, 4:2:2, 4:2:0 — subsampled chroma upsamples by replication),
    restart markers, FF00 byte stuffing; IDCT is the orthonormal 8x8
    DCT matrix in float64 (numpy), YCbCr→RGB per JFIF."""
    if b[:2] != b"\xff\xd8":
        return None
    qt: dict[int, np.ndarray] = {}
    huff_dc: dict[int, dict] = {}
    huff_ac: dict[int, dict] = {}
    comps = None  # list of (comp_id, qt_id)
    w = h = None
    restart_interval = 0
    pos = 2
    try:
        while pos + 4 <= len(b):
            if b[pos] != 0xFF:
                return None
            marker = b[pos + 1]
            if marker == 0xD9:  # EOI before SOS
                return None
            (seg_len,) = struct.unpack(">H", b[pos + 2 : pos + 4])
            seg = b[pos + 4 : pos + 2 + seg_len]
            if marker == 0xDB:  # DQT
                i = 0
                while i < len(seg):
                    pq, tq = seg[i] >> 4, seg[i] & 0x0F
                    if pq != 0:
                        return None  # 12-bit tables unsupported
                    tbl = np.zeros(64, np.int32)
                    tbl[_ZIGZAG] = np.frombuffer(
                        seg, np.uint8, count=64, offset=i + 1
                    )
                    qt[tq] = tbl.reshape(8, 8)
                    i += 65
            elif marker in (0xC0, 0xC1):  # SOF0/1 baseline
                if seg[0] != 8:
                    return None
                h, w = struct.unpack(">HH", seg[1:5])
                ncomp = seg[5]
                if ncomp not in (1, 3):
                    return None
                comps = []
                for ci in range(ncomp):
                    cid = seg[6 + 3 * ci]
                    sampling = seg[7 + 3 * ci]
                    hs, vs = sampling >> 4, sampling & 0x0F
                    if hs not in (1, 2) or vs not in (1, 2):
                        return None  # 4:4:4 / 4:2:2 / 4:2:0 families only
                    comps.append((cid, (hs, vs), seg[8 + 3 * ci]))
            elif marker in (0xC2, 0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA,
                            0xCB, 0xCD, 0xCE, 0xCF):
                return None  # progressive/arithmetic/lossless
            elif marker == 0xC4:  # DHT
                i = 0
                while i < len(seg):
                    tc, th = seg[i] >> 4, seg[i] & 0x0F
                    bits = list(seg[i + 1 : i + 17])
                    nvals = sum(bits)
                    vals = list(seg[i + 17 : i + 17 + nvals])
                    tbl = _huffman_decode_table(bits, vals)
                    (huff_dc if tc == 0 else huff_ac)[th] = tbl
                    i += 17 + nvals
            elif marker == 0xDD:  # DRI
                (restart_interval,) = struct.unpack(">H", seg[:2])
            elif marker == 0xDA:  # SOS — entropy data follows
                ns = seg[0]
                if comps is None or ns != len(comps):
                    return None
                by_id = {cid: (hv, qi) for cid, hv, qi in comps}
                scan = []  # (h, v, qt, dc_table, ac_table)
                for ci in range(ns):
                    cid, tables = seg[1 + 2 * ci], seg[2 + 2 * ci]
                    (hs, vs), qt_id = by_id[cid]
                    scan.append(
                        (hs, vs, qt[qt_id],
                         huff_dc[tables >> 4], huff_ac[tables & 0x0F])
                    )
                data_start = pos + 2 + seg_len
                return _jpeg_scan(b, data_start, w, h, scan, restart_interval)
            pos += 2 + seg_len
    except (struct.error, IndexError, KeyError):
        return None
    return None


def _jpeg_decode_block(reader, q, dc_tbl, ac_tbl, pred, ci):
    """One 8x8 block: DC diff + AC RLE -> dequantized spatial samples."""
    t = reader.read_huffman(dc_tbl)
    if t is None:
        return None
    diff_bits = reader.read_bits(t)
    if diff_bits is None:
        return None
    pred[ci] += _extend(diff_bits, t)
    zz = np.zeros(64, np.int32)
    zz[0] = pred[ci]
    k = 1
    while k < 64:
        rs = reader.read_huffman(ac_tbl)
        if rs is None:
            return None
        r, s = rs >> 4, rs & 0x0F
        if rs == 0x00:  # EOB
            break
        if rs == 0xF0:  # ZRL
            k += 16
            continue
        k += r
        if k > 63:
            return None
        mag = reader.read_bits(s)
        if mag is None:
            return None
        zz[k] = _extend(mag, s)
        k += 1
    block = np.zeros(64, np.float64)
    block[_ZIGZAG] = zz
    coeff = block.reshape(8, 8) * q
    return _DCT_C.T @ coeff @ _DCT_C + 128.0


def _jpeg_scan(b, pos, w, h, scan, restart_interval):
    """Interleaved MCU scan, general 1-2 sampling factors: each MCU
    carries h_i x v_i blocks per component; subsampled planes upsample
    by pixel replication after the scan (4:2:0/4:2:2 chroma)."""
    ncomp = len(scan)
    hmax = max(s[0] for s in scan)
    vmax = max(s[1] for s in scan)
    mcus_x = (w + 8 * hmax - 1) // (8 * hmax)
    mcus_y = (h + 8 * vmax - 1) // (8 * vmax)
    planes = [
        np.zeros((mcus_y * vs * 8, mcus_x * hs * 8), np.float64)
        for hs, vs, *_ in scan
    ]
    reader = _BitReader(b, pos)
    pred = [0] * ncomp
    mcu = 0
    for my in range(mcus_y):
        for mx in range(mcus_x):
            if restart_interval and mcu and mcu % restart_interval == 0:
                if not reader.resync_restart():
                    return None
                pred = [0] * ncomp
            for ci, (hs, vs, q, dc_tbl, ac_tbl) in enumerate(scan):
                for byy in range(vs):
                    for bxx in range(hs):
                        spatial = _jpeg_decode_block(
                            reader, q, dc_tbl, ac_tbl, pred, ci
                        )
                        if spatial is None:
                            return None
                        y0 = (my * vs + byy) * 8
                        x0 = (mx * hs + bxx) * 8
                        planes[ci][y0 : y0 + 8, x0 : x0 + 8] = spatial
            mcu += 1
    full = []
    for ci, (hs, vs, *_rest) in enumerate(scan):
        p = planes[ci]
        if vs < vmax:
            p = np.repeat(p, vmax // vs, axis=0)
        if hs < hmax:
            p = np.repeat(p, hmax // hs, axis=1)
        full.append(p[:h, :w])
    if ncomp == 1:
        gray = np.clip(np.round(full[0]), 0, 255).astype(np.uint8)
        return gray[:, :, None]
    y, cb, cr = full[0], full[1] - 128.0, full[2] - 128.0
    r = y + 1.402 * cr
    g = y - 0.344136 * cb - 0.714136 * cr
    bl = y + 1.772 * cb
    rgb = np.stack([r, g, bl], axis=-1)
    return np.clip(np.round(rgb), 0, 255).astype(np.uint8)


class _BitWriter:
    """MSB-first bit writer with FF00 stuffing."""

    def __init__(self):
        self.out = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, code: int, length: int) -> None:
        self.acc = (self.acc << length) | (code & ((1 << length) - 1))
        self.nbits += length
        while self.nbits >= 8:
            byte = (self.acc >> (self.nbits - 8)) & 0xFF
            self.out.append(byte)
            if byte == 0xFF:
                self.out.append(0x00)
            self.nbits -= 8
        self.acc &= (1 << self.nbits) - 1

    def flush(self) -> None:
        if self.nbits:
            pad = 8 - self.nbits
            self.write((1 << pad) - 1, pad)  # 1-pad per spec


def _encode_coef(v: int) -> tuple[int, int]:
    """(category t, t-bit magnitude code) per T.81 F.1.2.1."""
    t = int(v).bit_length() if v > 0 else int(-v).bit_length()
    return t, (v if v >= 0 else v + (1 << t) - 1)


def jpeg_encode(
    arr: np.ndarray,
    quality: int = 75,
    restart_interval: int = 0,
    subsampling: str = "444",
) -> bytes:
    """Baseline JFIF encoder: grayscale or RGB input, standard Annex-K
    quantization tables scaled by the libjpeg quality convention,
    standard Huffman tables, optional DRI + RSTn emission.
    ``subsampling``: "444" (one block per component per MCU) or "420"
    (2x2 luma blocks + mean-downsampled chroma — the dominant
    real-world layout). Pairs with :func:`jpeg_decode` for lossy
    round-trip tests with a quantization-bounded error."""
    if arr.ndim == 2:
        arr = arr[:, :, None]
    h, w, ncomp = arr.shape
    if ncomp not in (1, 3):
        raise ValueError("grayscale or RGB input required")
    scale = 5000 // quality if quality < 50 else 200 - 2 * quality
    def scaled(tbl):
        q = np.clip((tbl.astype(np.int64) * scale + 50) // 100, 1, 255)
        return q.astype(np.int32)
    qts = [scaled(_STD_LUMA_Q)]
    if ncomp == 3:
        qts.append(scaled(_STD_CHROMA_Q))
        x = arr.astype(np.float64)
        y = 0.299 * x[:, :, 0] + 0.587 * x[:, :, 1] + 0.114 * x[:, :, 2]
        cb = -0.168736 * x[:, :, 0] - 0.331264 * x[:, :, 1] + 0.5 * x[:, :, 2] + 128
        cr = 0.5 * x[:, :, 0] - 0.418688 * x[:, :, 1] - 0.081312 * x[:, :, 2] + 128
        chans = [y, cb, cr]
        comp_qt = [0, 1, 1]
    else:
        chans = [arr[:, :, 0].astype(np.float64)]
        comp_qt = [0]

    dc_enc = [_huffman_encode_table(*_STD_DC_LUMA)]
    ac_enc = [_huffman_encode_table(*_STD_AC_LUMA)]
    if ncomp == 3:
        dc_enc.append(_huffman_encode_table(*_STD_DC_CHROMA))
        ac_enc.append(_huffman_encode_table(*_STD_AC_CHROMA))
    comp_huff = [0, 1, 1][:ncomp]

    # headers
    out = bytearray(b"\xff\xd8")  # SOI
    def segment(marker, body):
        out.extend(marker)
        out.extend(struct.pack(">H", len(body) + 2))
        out.extend(body)
    for tq, q in enumerate(qts):
        # zigzag-order serialization: byte k is q.flat[_ZIGZAG[k]]
        zz = q.reshape(-1)[_ZIGZAG].astype(np.uint8)
        segment(b"\xff\xdb", bytes([tq]) + bytes(zz))
    use_420 = subsampling == "420" and ncomp == 3
    if subsampling not in ("444", "420"):
        raise ValueError(f"unsupported subsampling: {subsampling}")
    samp = [0x22, 0x11, 0x11] if use_420 else [0x11] * ncomp
    sof = bytearray([8]) + struct.pack(">HH", h, w) + bytes([ncomp])
    for ci in range(ncomp):
        sof += bytes([ci + 1, samp[ci], comp_qt[ci]])
    segment(b"\xff\xc0", bytes(sof))
    tables = [(_STD_DC_LUMA, 0x00), (_STD_AC_LUMA, 0x10)]
    if ncomp == 3:
        tables += [(_STD_DC_CHROMA, 0x01), (_STD_AC_CHROMA, 0x11)]
    for (bits, vals), tc_th in tables:
        segment(b"\xff\xc4", bytes([tc_th] + bits + vals))
    if restart_interval:
        segment(b"\xff\xdd", struct.pack(">H", restart_interval))
    sos = bytearray([ncomp])
    for ci in range(ncomp):
        sos += bytes([ci + 1, (comp_huff[ci] << 4) | comp_huff[ci]])
    sos += bytes([0, 63, 0])
    segment(b"\xff\xda", bytes(sos))

    # entropy-coded data
    writer = _BitWriter()
    pred = [0] * ncomp
    mcu = 0

    def pad_to(ch: np.ndarray, mh: int, mw: int) -> np.ndarray:
        """Edge-replicate pad to multiples of (mh, mw)."""
        ph = ((ch.shape[0] + mh - 1) // mh) * mh
        pw = ((ch.shape[1] + mw - 1) // mw) * mw
        p = np.empty((ph, pw), np.float64)
        p[: ch.shape[0], : ch.shape[1]] = ch
        p[ch.shape[0] :, : ch.shape[1]] = ch[-1:, :]
        p[:, ch.shape[1] :] = p[:, ch.shape[1] - 1 : ch.shape[1]]
        return p

    def emit_block(block: np.ndarray, ci: int) -> None:
        coeff = _DCT_C @ (block - 128.0) @ _DCT_C.T
        q = qts[comp_qt[ci]]
        zz = np.round(coeff / q).astype(np.int32).reshape(-1)[_ZIGZAG]
        diff = int(zz[0]) - pred[ci]
        pred[ci] = int(zz[0])
        t, mag = _encode_coef(diff)
        code, ln = dc_enc[comp_huff[ci]][t]
        writer.write(code, ln)
        if t:
            writer.write(mag, t)
        ac = ac_enc[comp_huff[ci]]
        run = 0
        for k in range(1, 64):
            v = int(zz[k])
            if v == 0:
                run += 1
                continue
            while run > 15:
                code, ln = ac[0xF0]
                writer.write(code, ln)
                run -= 16
            t, mag = _encode_coef(v)
            code, ln = ac[(run << 4) | t]
            writer.write(code, ln)
            writer.write(mag, t)
            run = 0
        if run:
            code, ln = ac[0x00]
            writer.write(code, ln)

    def maybe_restart() -> None:
        nonlocal pred
        if restart_interval and mcu and mcu % restart_interval == 0:
            writer.flush()
            writer.out += bytes(
                [0xFF, 0xD0 + (mcu // restart_interval - 1) % 8]
            )
            pred = [0] * ncomp

    if use_420:
        luma = pad_to(chans[0], 16, 16)
        # chroma: 2x2 mean downsample of the 16-padded plane, then the
        # half-res plane is already an 8-multiple
        subs = []
        for ch in chans[1:]:
            p = pad_to(ch, 16, 16)
            subs.append(
                (p[0::2, 0::2] + p[1::2, 0::2] + p[0::2, 1::2] + p[1::2, 1::2])
                / 4.0
            )
        for my in range(luma.shape[0] // 16):
            for mx in range(luma.shape[1] // 16):
                maybe_restart()
                mcu += 1
                for byy in range(2):
                    for bxx in range(2):
                        y0, x0 = my * 16 + byy * 8, mx * 16 + bxx * 8
                        emit_block(luma[y0 : y0 + 8, x0 : x0 + 8], 0)
                for ci, p in enumerate(subs, start=1):
                    y0, x0 = my * 8, mx * 8
                    emit_block(p[y0 : y0 + 8, x0 : x0 + 8], ci)
    else:
        padded = [pad_to(ch, 8, 8) for ch in chans]
        for by in range(padded[0].shape[0] // 8):
            for bx in range(padded[0].shape[1] // 8):
                maybe_restart()
                mcu += 1
                for ci in range(ncomp):
                    emit_block(
                        padded[ci][by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8],
                        ci,
                    )
    writer.flush()
    out.extend(writer.out)
    out.extend(b"\xff\xd9")  # EOI
    return bytes(out)


# ---------------------------------------------------------------------------
# Motion-JPEG in AVI: the one video path that needs no external codec —
# the container is RIFF chunk walking (struct) and every frame is a
# baseline JPEG our own jpeg_decode handles. H.264-family codecs remain
# genuinely env-gated; MJPEG is what webcams/capture pipelines emit and
# makes the frame-demux operator REAL end to end.
# ---------------------------------------------------------------------------
def avi_mjpeg_encode(
    frames: list[np.ndarray], fps: int = 10, quality: int = 85
) -> bytes:
    """Minimal spec-valid AVI container holding JPEG-compressed frames
    ('00dc' chunks in the movi list, MJPG fourcc, avih/strh/strf
    headers). All frames must share one (h, w[, c]) shape."""
    if not frames:
        raise ValueError("at least one frame required")
    h, w = frames[0].shape[0], frames[0].shape[1]
    payloads = [jpeg_encode(f, quality=quality) for f in frames]

    def chunk(cid: bytes, body: bytes) -> bytes:
        pad = b"\x00" if len(body) % 2 else b""
        return cid + struct.pack("<I", len(body)) + body + pad

    def lst(subtype: bytes, body: bytes) -> bytes:
        return chunk(b"LIST", subtype + body)

    avih = struct.pack(
        "<14I",
        1_000_000 // fps,  # microseconds per frame
        0, 0, 0x10,        # max bytes/s, padding, flags (HASINDEX off)
        len(payloads), 0, 1, 0,
        w, h, 0, 0, 0, 0,
    )
    strh = (
        b"vids" + b"MJPG"
        + struct.pack("<10I2H2I", 0, 0, 0, 1, fps, 0, len(payloads), 0,
                      0xFFFFFFFF, 0, 0, 0, 0, 0)[:44]
    )
    strh = strh[:56] if len(strh) >= 56 else strh + bytes(56 - len(strh))
    strf = struct.pack(
        "<IiiHH4sIiiII", 40, w, h, 1, 24, b"MJPG", w * h * 3, 0, 0, 0, 0
    )
    hdrl = lst(
        b"hdrl",
        chunk(b"avih", avih)
        + lst(b"strl", chunk(b"strh", strh) + chunk(b"strf", strf)),
    )
    movi = lst(b"movi", b"".join(chunk(b"00dc", p) for p in payloads))
    riff_body = b"AVI " + hdrl + movi
    return b"RIFF" + struct.pack("<I", len(riff_body)) + riff_body


def avi_mjpeg_frames(b: bytes) -> list[bytes] | None:
    """Demux an AVI: the ordered list of video-frame payloads ('##dc' /
    '##db' chunks inside the movi list). Returns None for non-AVI or
    corrupt containers; payload codec is the caller's problem (for
    MJPG each payload is a baseline JPEG)."""
    if b[:4] != b"RIFF" or len(b) < 12 or b[8:12] != b"AVI ":
        return None
    frames: list[bytes] = []

    def walk(pos: int, end: int) -> bool:
        while pos + 8 <= end:
            cid = b[pos : pos + 4]
            (ln,) = struct.unpack("<I", b[pos + 4 : pos + 8])
            body_start = pos + 8
            if body_start + ln > end:
                return False
            if cid == b"LIST" and ln >= 4:
                if not walk(body_start + 4, body_start + ln):
                    return False
            elif cid[2:4] in (b"dc", b"db"):
                frames.append(b[body_start : body_start + ln])
            pos = body_start + ln + (ln & 1)
        return True

    if not walk(12, min(len(b), 8 + struct.unpack("<I", b[4:8])[0])):
        return None
    return frames


def dhash_bits(arr: np.ndarray, grid_w: int = 9, grid_h: int = 8) -> tuple[int, int]:
    """Difference hash (dHash) of a decoded raster, as two unsigned
    32-bit halves ``(hi, lo)``.

    Integer-only pipeline: grayscale by per-pixel integer mean
    (``sum // n_channels``), downscale with the pure-integer
    ``resize_nearest`` (no float coordinates), then one bit per
    horizontally-adjacent cell pair — ``bit(r, c) = g[r][c+1] > g[r][c]``,
    bit index ``k = r * (grid_w - 1) + c``. Every step is deterministic
    and reproducible in plain SQL, which is what lets an external engine
    verify the hash per image (contract query ``image_dhash``). The
    split-halves representation avoids signed-64 wraparound entirely on
    both sides.
    """
    gray = arr.sum(axis=2, dtype=np.int64) // arr.shape[2]
    small = resize_nearest(gray, grid_w, grid_h)
    hi = lo = 0
    for r in range(grid_h):
        for c in range(grid_w - 1):
            if int(small[r, c + 1]) > int(small[r, c]):
                k = r * (grid_w - 1) + c
                if k >= 32:
                    hi |= 1 << (k - 32)
                else:
                    lo |= 1 << k
    return hi, lo
