"""Pure-python/numpy media codecs for library-free formats.

Real decoders for the formats that need no external media library:
uncompressed BMP (24/32-bit and paletted 1/4/8-bit since r14),
binary PPM (P6), PCM and IEEE-float WAV, and (since r7) PNG — PNG's
DEFLATE layer is stdlib ``zlib``, so a full, spec-correct decoder
(all five row filters, gray/RGB/RGBA color types, CRC-checked
chunks; since r13 also palette color at bit depths 1/2/4/8, Adam7
interlace with per-pass filtering, and 16-bit channels via high-byte
downconversion) needs no external library at all — plus huffman-DCT
JFIF JPEG (operators/jpeg_codec).  ``IMAGE_DECODERS`` dispatches them
by media type for the real-decode paths of operators/multimodal.
The video/audio CONTAINER layer (MP4 box walk, Ogg page/packet walk)
is operators/containers.

The boundary where PIL/ffmpeg would plug in is a documented
NotImplementedError: compressed BMP, compressed WAV (G.711, IMA and
MS ADPCM, MP3) and the JPEG processes outside huffman DCT — no
registered query produces them.

Encoders (BMP, PPM, WAV, PNG) generate the fixture media; every codec
round-trips bit-exactly (pytest property — PNG is lossless, so
encode→decode is identity for every filter type).
"""

from __future__ import annotations

import struct
import zlib

import numpy as np

# --- BMP (Windows BITMAPINFOHEADER, 24 bpp, uncompressed) -------------------


def encode_bmp(arr: np.ndarray) -> bytes:
    """(h, w, 3) uint8 RGB -> 24-bit uncompressed BMP (bottom-up rows,
    BGR byte order, rows padded to 4 bytes — the format spec)."""
    if arr.ndim != 3 or arr.shape[2] != 3 or arr.dtype != np.uint8:
        raise ValueError("encode_bmp expects (h, w, 3) uint8")
    h, w, _ = arr.shape
    row_size = (w * 3 + 3) & ~3
    pix = bytearray()
    for y in range(h - 1, -1, -1):  # bottom-up
        row = arr[y, :, ::-1].tobytes()  # RGB -> BGR
        pix += row + bytes(row_size - len(row))
    pixels = bytes(pix)
    dib = struct.pack(
        "<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(pixels), 2835, 2835, 0, 0
    )
    offset = 14 + 40
    header = struct.pack("<2sIHHI", b"BM", offset + len(pixels), 0, 0, offset)
    return header + dib + pixels


def decode_bmp(data: bytes) -> np.ndarray:
    """Uncompressed (BI_RGB) BMP -> (h, w, 3) uint8 RGB at every
    classic bit depth: 24-bit BGR, 32-bit BGRX (padding byte
    dropped), and paletted 1/4/8-bit via the BITMAPINFOHEADER color
    table (BGRX quads, MSB-first sub-byte indices — the same
    unpacking shape as PNG palette depths).  Handles bottom-up and
    top-down row order and 4-byte row padding.  RLE-compressed and
    bitfield BMPs remain the documented NotImplementedError
    boundary."""
    if len(data) < 54 or data[:2] != b"BM":
        raise ValueError("not a BMP payload")
    (_, _, _, offset) = struct.unpack("<IHHI", data[2:14])
    (hdr_size, w, h) = struct.unpack("<Iii", data[14:26])
    (planes, bpp, compression) = struct.unpack("<HHI", data[26:34])
    if compression != 0 or bpp not in (1, 4, 8, 24, 32):
        raise NotImplementedError(
            f"only uncompressed BI_RGB BMP at 1/4/8/24/32 bpp supported "
            f"(bpp={bpp}, compression={compression})"
        )
    top_down = h < 0
    h = abs(h)
    row_size = ((w * bpp + 31) // 32) * 4
    out = np.empty((h, w, 3), dtype=np.uint8)
    if bpp in (24, 32):
        ch = bpp // 8
        for i in range(h):
            start = offset + i * row_size
            row = np.frombuffer(data, np.uint8, w * ch, start).reshape(w, ch)
            y = i if top_down else h - 1 - i
            out[y] = row[:, 2::-1]  # BGR(X) -> RGB
        return out
    # paletted: color table of BGRX quads sits right after the info
    # header; used-colors field (biClrUsed, offset 46) may shrink it
    if hdr_size < 40:
        # BITMAPCOREHEADER (12 bytes) lays the palette out as BGR
        # triples and has no biClrUsed — reading offset 46 would be
        # pixel data (review finding r14)
        raise NotImplementedError(
            f"paletted BMP with header size {hdr_size} (BITMAPCOREHEADER) "
            "not supported"
        )
    (clr_used,) = struct.unpack("<I", data[46:50])
    n_colors = min(clr_used or (1 << bpp), 1 << bpp)
    pal_off = 14 + hdr_size
    if pal_off + n_colors * 4 > len(data):
        raise ValueError("truncated BMP color table")
    pal = np.frombuffer(data, np.uint8, n_colors * 4, pal_off).reshape(
        n_colors, 4
    )[:, 2::-1]  # BGRX -> RGB
    for i in range(h):
        start = offset + i * row_size
        raw = np.frombuffer(data, np.uint8, row_size, start)
        if bpp == 8:
            idx = raw[:w]
        else:
            # MSB-first sub-byte indices (1 or 4 bpp)
            per = 8 // bpp
            shifts = np.arange(per - 1, -1, -1, dtype=np.uint8) * bpp
            unpacked = (
                raw[:, None] >> shifts[None, :]
            ) & ((1 << bpp) - 1)
            idx = unpacked.reshape(-1)[:w]
        if int(idx.max(initial=0)) >= n_colors:
            # a shrunk color table with out-of-range pixel indices is
            # a malformed file — fail with the codec contract's error,
            # not an uncontrolled IndexError (review finding r14)
            raise ValueError(
                f"BMP palette index {int(idx.max())} outside the "
                f"{n_colors}-entry color table"
            )
        y = i if top_down else h - 1 - i
        out[y] = pal[idx]
    return out


# --- PPM (P6, binary, maxval 255) -------------------------------------------


def encode_ppm(arr: np.ndarray) -> bytes:
    if arr.ndim != 3 or arr.shape[2] != 3 or arr.dtype != np.uint8:
        raise ValueError("encode_ppm expects (h, w, 3) uint8")
    h, w, _ = arr.shape
    return f"P6\n{w} {h}\n255\n".encode() + arr.tobytes()


def decode_ppm(data: bytes) -> np.ndarray:
    if not data.startswith(b"P6"):
        raise ValueError("not a P6 PPM payload")
    # Header: magic, width, height, maxval — whitespace/comment
    # separated tokens, then a single whitespace byte before pixels.
    pos, fields = 2, []
    while len(fields) < 3:
        while pos < len(data) and data[pos : pos + 1].isspace():
            pos += 1
        if data[pos : pos + 1] == b"#":
            while pos < len(data) and data[pos] != 0x0A:
                pos += 1
            continue
        start = pos
        while pos < len(data) and not data[pos : pos + 1].isspace():
            pos += 1
        fields.append(int(data[start:pos]))
    pos += 1  # the single whitespace after maxval
    w, h, maxval = fields
    if maxval != 255:
        raise NotImplementedError("only maxval=255 PPM supported")
    return np.frombuffer(data, np.uint8, h * w * 3, pos).reshape(h, w, 3)


# --- WAV (RIFF, PCM 8/16-bit) -----------------------------------------------


def encode_wav(samples: np.ndarray, sample_rate: int) -> bytes:
    """(n,) or (n, channels) int16 PCM -> RIFF WAV bytes."""
    if samples.dtype != np.int16:
        raise ValueError("encode_wav expects int16 samples")
    if samples.ndim == 1:
        samples = samples[:, None]
    n, ch = samples.shape
    data = samples.astype("<i2").tobytes()
    byte_rate = sample_rate * ch * 2
    fmt = struct.pack("<HHIIHH", 1, ch, sample_rate, byte_rate, ch * 2, 16)
    body = b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt
    body += b"data" + struct.pack("<I", len(data)) + data
    return b"RIFF" + struct.pack("<I", len(body)) + body


def decode_wav(data: bytes) -> tuple[np.ndarray, int]:
    """RIFF WAV -> ((n, channels) int16 array, sample_rate).  Decodes
    every uncompressed layout: integer PCM at 8 (unsigned), 16, 24,
    and 32 bits, and IEEE float32/float64 (format 3), all normalized
    to int16 range.  Compressed forms — G.711 (formats 6/7), IMA and
    MS ADPCM (0x11/0x02), MP3-in-WAV (0x55) — are the documented
    NotImplementedError boundary: no registered query produces them."""
    if data[:4] != b"RIFF" or data[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE payload")
    pos = 12
    fmt = None
    fmt_chunk = b""
    raw = None
    while pos + 8 <= len(data):
        cid = data[pos : pos + 4]
        (size,) = struct.unpack("<I", data[pos + 4 : pos + 8])
        chunk = data[pos + 8 : pos + 8 + size]
        if cid == b"fmt ":
            fmt = struct.unpack("<HHIIHH", chunk[:16])
            fmt_chunk = chunk
        elif cid == b"data":
            raw = chunk
        pos += 8 + size + (size & 1)  # chunks are word-aligned
    if fmt is None or raw is None:
        raise ValueError("WAV missing fmt/data chunk")
    audio_format, ch, rate, _, _, bits = fmt
    if audio_format == 0xFFFE:
        # WAVE_FORMAT_EXTENSIBLE: the REAL format tag is the first two
        # bytes of the 16-byte SubFormat GUID in the fmt extension
        # (offset 24 = 16 standard + cbSize 2 + valid-bits 2 + channel
        # mask 4).  Assuming PCM here would silently mis-decode an
        # extensible float32 stream as int32 garbage, so an absent or
        # non-KSDATAFORMAT SubFormat is a hard boundary, not a guess.
        _KS_GUID_TAIL = b"\x00\x00\x00\x00\x10\x00\x80\x00\x00\xaa\x008\x9bq"
        if len(fmt_chunk) < 40:
            raise NotImplementedError(
                "WAVE_FORMAT_EXTENSIBLE without a SubFormat GUID "
                f"(fmt chunk {len(fmt_chunk)} bytes, need 40)"
            )
        if fmt_chunk[26:40] != _KS_GUID_TAIL:
            raise NotImplementedError(
                "WAVE_FORMAT_EXTENSIBLE with a non-KSDATAFORMAT "
                f"SubFormat GUID ({fmt_chunk[24:40].hex()}) — only "
                "PCM/IEEE-float subtypes are supported"
            )
        (audio_format,) = struct.unpack("<H", fmt_chunk[24:26])
    if audio_format == 1 and bits in (8, 16, 24, 32):
        if bits == 16:
            arr = np.frombuffer(raw, "<i2")
        elif bits == 8:
            arr = (np.frombuffer(raw, np.uint8).astype(np.int16) - 128) << 8
        elif bits == 24:
            b3 = np.frombuffer(raw, np.uint8)
            b3 = b3[: (len(b3) // 3) * 3].reshape(-1, 3).astype(np.int32)
            v = b3[:, 0] | (b3[:, 1] << 8) | (b3[:, 2] << 16)
            v = np.where(v >= 1 << 23, v - (1 << 24), v)  # sign-extend
            arr = (v >> 8).astype(np.int16)
        else:  # 32-bit integer PCM
            arr = (np.frombuffer(raw, "<i4") >> 16).astype(np.int16)
    elif audio_format == 3 and bits in (32, 64):
        f = np.frombuffer(raw, "<f4" if bits == 32 else "<f8")
        arr = np.clip(np.round(f * 32767.0), -32768, 32767).astype(np.int16)
    else:
        raise NotImplementedError(
            f"only PCM/float WAV supported (format={audio_format}, "
            f"bits={bits}); compressed WAV (G.711, ADPCM, MP3) needs a "
            "codec library"
        )
    n = len(arr) // ch
    return arr[: n * ch].reshape(n, ch), rate


# --- PNG (8-bit; color types 0/2/4/6; zlib is stdlib) ------------------------

_PNG_SIG = b"\x89PNG\r\n\x1a\n"
# Channels per pixel by PNG color type (3 = palette: 1 index sample).
_PNG_CHANNELS = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}
# Adam7 interlace passes (PNG spec 8.2): (x0, y0, dx, dy).
_ADAM7 = (
    (0, 0, 8, 8),
    (4, 0, 8, 8),
    (0, 4, 4, 8),
    (2, 0, 4, 4),
    (0, 2, 2, 4),
    (1, 0, 2, 2),
    (0, 1, 1, 2),
)


def _adam7_passes(w: int, h: int):
    """(x0, y0, dx, dy, pass_w, pass_h) per non-empty Adam7 pass, in
    stream order.  Empty passes contribute no scanlines at all (not
    even filter bytes) — PNG spec 8.2."""
    for x0, y0, dx, dy in _ADAM7:
        pw = (w - x0 + dx - 1) // dx
        ph = (h - y0 + dy - 1) // dy
        if pw > 0 and ph > 0:
            yield x0, y0, dx, dy, pw, ph


def _unpack_bits(row: bytes, n: int, depth: int) -> "np.ndarray":
    """First ``n`` left-to-right samples of ``depth`` bits each from a
    packed scanline (PNG packs sub-byte samples MSB-first)."""
    b = np.frombuffer(bytes(row), np.uint8)
    if depth == 8:
        return b[:n]
    if depth == 4:
        out = np.empty(len(b) * 2, np.uint8)
        out[0::2] = b >> 4
        out[1::2] = b & 15
    elif depth == 2:
        out = np.empty(len(b) * 4, np.uint8)
        for i, sh in enumerate((6, 4, 2, 0)):
            out[i::4] = (b >> sh) & 3
    elif depth == 1:
        out = np.unpackbits(b)
    else:
        raise NotImplementedError(f"PNG bit depth {depth}")
    return out[:n]


def _pack_bits(samples: "np.ndarray", depth: int) -> bytes:
    """Inverse of :func:`_unpack_bits` for one scanline."""
    if depth == 8:
        return samples.astype(np.uint8).tobytes()
    per = 8 // depth
    pad = (-len(samples)) % per
    s = np.concatenate([samples, np.zeros(pad, samples.dtype)])
    out = np.zeros(len(s) // per, np.uint16)
    for i in range(per):
        out = (out << depth) | s[i::per].astype(np.uint16)
    return out.astype(np.uint8).tobytes()


def _png_chunk(ctype: bytes, payload: bytes) -> bytes:
    return (
        struct.pack(">I", len(payload))
        + ctype
        + payload
        + struct.pack(">I", zlib.crc32(ctype + payload) & 0xFFFFFFFF)
    )


def _paeth(a: int, b: int, c: int) -> int:
    """Paeth predictor (PNG spec 9.4): the neighbour (left/up/upleft)
    whose value is closest to the linear estimate a + b - c."""
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    return b if pb <= pc else c


def _png_filter_row(ft: int, row: bytes, prev: bytes, bpp: int) -> bytes:
    """Apply scanline filter ``ft`` (0-4) to a raw row given the
    previous RAW row — the encoder side of PNG spec 9."""
    n = len(row)
    out = bytearray(n)
    for i in range(n):
        x = row[i]
        a = row[i - bpp] if i >= bpp else 0
        b = prev[i]
        c = prev[i - bpp] if i >= bpp else 0
        if ft == 0:
            out[i] = x
        elif ft == 1:
            out[i] = (x - a) & 0xFF
        elif ft == 2:
            out[i] = (x - b) & 0xFF
        elif ft == 3:
            out[i] = (x - (a + b) // 2) & 0xFF
        else:  # 4
            out[i] = (x - _paeth(a, b, c)) & 0xFF
    return bytes(out)


def _png_unfilter_row(ft: int, row: bytearray, prev: bytes, bpp: int) -> None:
    """Invert scanline filter ``ft`` in place (decoder side; Sub/Paeth
    are sequential in x, so this is the honest byte loop)."""
    n = len(row)
    if ft == 0:
        return
    for i in range(n):
        a = row[i - bpp] if i >= bpp else 0
        b = prev[i]
        if ft == 1:
            row[i] = (row[i] + a) & 0xFF
        elif ft == 2:
            row[i] = (row[i] + b) & 0xFF
        elif ft == 3:
            row[i] = (row[i] + (a + b) // 2) & 0xFF
        elif ft == 4:
            c = prev[i - bpp] if i >= bpp else 0
            row[i] = (row[i] + _paeth(a, b, c)) & 0xFF
        else:
            raise ValueError(f"invalid PNG filter type {ft}")


def encode_png(
    arr: np.ndarray, filter_type: int = 0, interlace: bool = False
) -> bytes:
    """(h, w, 3) uint8 RGB -> PNG (8-bit truecolor, one IDAT).
    ``filter_type`` selects the per-row scanline filter (0-4) — any
    choice decodes to the identical image (lossless), so the tests
    exercise every decoder filter branch through the same API.
    ``interlace=True`` writes Adam7 passes (PNG spec 8.2): each
    non-empty pass is filtered as an independent sub-image."""
    if arr.ndim != 3 or arr.shape[2] != 3 or arr.dtype != np.uint8:
        raise ValueError("encode_png expects (h, w, 3) uint8")
    if not 0 <= filter_type <= 4:
        raise ValueError("PNG filter type must be 0-4")
    h, w, _ = arr.shape
    raw = bytearray()
    passes = (
        _adam7_passes(w, h) if interlace else ((0, 0, 1, 1, w, h),)
    )
    for x0, y0, dx, dy, pw, ph in passes:
        sub = arr[y0::dy, x0::dx]
        prev = bytes(pw * 3)
        for y in range(ph):
            row = sub[y].tobytes()
            raw.append(filter_type)
            raw += _png_filter_row(filter_type, row, prev, 3)
            prev = row
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, int(interlace))
    return (
        _PNG_SIG
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", zlib.compress(bytes(raw), 9))
        + _png_chunk(b"IEND", b"")
    )


def encode_png_palette(
    arr: np.ndarray,
    filter_type: int = 0,
    interlace: bool = False,
    depth: int | None = None,
) -> bytes:
    """(h, w, 3) uint8 RGB -> indexed-color PNG (color type 3): the
    distinct colors become the PLTE (sorted for determinism) and each
    pixel stores a palette index at ``depth`` bits (1/2/4/8 —
    smallest that fits when None).  Raises ValueError when the image
    has more than 2**depth distinct colors (palette encoding is only
    defined up to 256).  Filtering runs over the PACKED index bytes
    with bpp=1 (PNG spec 9: sub-8-bit pixels filter at byte
    granularity); ``interlace=True`` writes Adam7 passes."""
    if arr.ndim != 3 or arr.shape[2] != 3 or arr.dtype != np.uint8:
        raise ValueError("encode_png_palette expects (h, w, 3) uint8")
    h, w, _ = arr.shape
    colors, inverse = np.unique(
        arr.reshape(-1, 3), axis=0, return_inverse=True
    )
    if depth is None:
        depth = next(
            d for d in (1, 2, 4, 8) if len(colors) <= (1 << d)
        ) if len(colors) <= 256 else 8
    if len(colors) > (1 << depth):
        raise ValueError(
            f"{len(colors)} distinct colors exceed {1 << depth}-entry "
            f"palette (depth={depth})"
        )
    idx = inverse.reshape(h, w).astype(np.uint8)
    raw = bytearray()
    passes = (
        _adam7_passes(w, h) if interlace else ((0, 0, 1, 1, w, h),)
    )
    for x0, y0, dx, dy, pw, ph in passes:
        sub = idx[y0::dy, x0::dx]
        stride = (pw * depth + 7) // 8
        prev = bytes(stride)
        for y in range(ph):
            packed = _pack_bits(sub[y], depth)
            raw.append(filter_type)
            raw += _png_filter_row(filter_type, packed, prev, 1)
            prev = packed
    ihdr = struct.pack(">IIBBBBB", w, h, depth, 3, 0, 0, int(interlace))
    return (
        _PNG_SIG
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"PLTE", colors.astype(np.uint8).tobytes())
        + _png_chunk(b"IDAT", zlib.compress(bytes(raw), 9))
        + _png_chunk(b"IEND", b"")
    )


def _decode_subimage(
    raw: bytes, pos: int, pw: int, ph: int, ch: int, depth: int
) -> tuple[np.ndarray, int]:
    """Unfilter + unpack one (sub)image starting at ``pos`` in the
    decompressed IDAT stream: returns ((ph, pw, ch) uint8 SAMPLES —
    palette indices, not colors, when ch=1/depth<8 — and the new
    stream position).  Filtering operates on packed bytes with bpp =
    max(1, bits_per_pixel // 8) (PNG spec 9)."""
    bits_pp = depth * ch
    stride = (pw * bits_pp + 7) // 8
    bpp = max(1, bits_pp // 8)
    if pos + ph * (stride + 1) > len(raw):
        raise ValueError("PNG pixel data length mismatch")
    out = np.empty((ph, pw, ch), dtype=np.uint8)
    prev = bytes(stride)
    for y in range(ph):
        ft = raw[pos]
        row = bytearray(raw[pos + 1 : pos + 1 + stride])
        pos += 1 + stride
        _png_unfilter_row(ft, row, prev, bpp)
        prev = bytes(row)
        if depth == 16:
            # big-endian 16-bit samples scale to the 8-bit output
            # contract by keeping the high byte (v >> 8, PIL's I;16
            # convention) — the filter pass above already ran at the
            # full 2-byte bpp per spec
            samples = np.frombuffer(prev, np.uint8)[0::2][: pw * ch]
        else:
            samples = _unpack_bits(prev, pw * ch, depth)
        out[y] = samples.reshape(pw, ch)
    return out, pos


def decode_png(data: bytes) -> np.ndarray:
    """PNG -> (h, w, 3) uint8 RGB.  Full decode for 8-bit gray /
    gray+alpha / RGB / RGBA (at 8- OR 16-bit channel depth — 16-bit
    samples keep the high byte, the standard 8-bit downconversion),
    palette (color type 3, PLTE lookup, bit depths 1/2/4/8), Adam7
    interlace (all 7 passes, per-pass filtering), all five scanline
    filters, CRC-verified chunks, multi-IDAT streams; alpha is
    dropped (including tRNS palette alpha) and gray broadcast to RGB
    so every image format shares one output contract.  Remaining
    documented boundary: sub-8-bit GRAYSCALE (depths 1/2/4 outside
    palette) raises NotImplementedError."""
    if data[: len(_PNG_SIG)] != _PNG_SIG:
        raise ValueError("not a PNG payload")
    pos = len(_PNG_SIG)
    ihdr = None
    plte = None
    idat = bytearray()
    while pos + 8 <= len(data):
        (length,) = struct.unpack(">I", data[pos : pos + 4])
        ctype = data[pos + 4 : pos + 8]
        payload = data[pos + 8 : pos + 8 + length]
        (crc,) = struct.unpack(
            ">I", data[pos + 8 + length : pos + 12 + length]
        )
        if zlib.crc32(ctype + payload) & 0xFFFFFFFF != crc:
            raise ValueError(f"PNG chunk {ctype!r} fails CRC")
        if ctype == b"IHDR":
            ihdr = struct.unpack(">IIBBBBB", payload)
        elif ctype == b"PLTE":
            if length % 3 != 0 or length == 0:
                raise ValueError("PLTE length must be a positive x3")
            plte = np.frombuffer(payload, np.uint8).reshape(-1, 3)
        elif ctype == b"IDAT":
            idat += payload
        elif ctype == b"IEND":
            break
        pos += 12 + length
    if ihdr is None or not idat:
        raise ValueError("PNG missing IHDR/IDAT")
    w, h, depth, ctype_n, compression, filt, interlace = ihdr
    if ctype_n not in _PNG_CHANNELS:
        raise NotImplementedError(f"PNG color type {ctype_n}")
    if ctype_n == 3:
        if depth not in (1, 2, 4, 8):
            raise ValueError(f"invalid palette bit depth {depth}")
        if plte is None:
            raise ValueError("palette PNG missing PLTE chunk")
    elif ctype_n == 0:
        if depth not in (1, 2, 4, 8, 16):
            raise ValueError(f"invalid grayscale bit depth {depth}")
    elif depth not in (8, 16):
        raise ValueError(
            f"invalid bit depth {depth} for color type {ctype_n}"
        )
    if interlace not in (0, 1):
        raise ValueError(f"invalid PNG interlace method {interlace}")
    if compression != 0 or filt != 0:
        raise ValueError("invalid PNG compression/filter method")
    ch = _PNG_CHANNELS[ctype_n]
    raw = zlib.decompress(bytes(idat))
    out = np.empty((h, w, ch), dtype=np.uint8)
    spos = 0
    passes = (
        _adam7_passes(w, h) if interlace else ((0, 0, 1, 1, w, h),)
    )
    for x0, y0, dx, dy, pw, ph in passes:
        sub, spos = _decode_subimage(raw, spos, pw, ph, ch, depth)
        out[y0::dy, x0::dx] = sub
    if spos != len(raw):
        raise ValueError("PNG pixel data length mismatch")
    if ctype_n == 3:
        idx = out[..., 0]
        if int(idx.max(initial=0)) >= len(plte):
            raise ValueError("palette index out of PLTE range")
        return plte[idx]
    if ctype_n == 0 and depth < 8:
        # sub-8-bit grayscale: expand to the 8-bit range by the
        # spec's max-value scaling (v * 255 / (2^depth - 1) — exact
        # for these depths: bit replication)
        gray = (
            out[..., 0].astype(np.uint16) * 255 // ((1 << depth) - 1)
        ).astype(np.uint8)
        return np.repeat(gray[..., None], 3, axis=2)
    if ctype_n == 2:
        return out
    if ctype_n == 6:
        return np.ascontiguousarray(out[..., :3])  # drop alpha
    gray = out[..., 0]  # 0 / 4: broadcast luma (alpha dropped)
    return np.repeat(gray[..., None], 3, axis=2)


# --- Dispatch ----------------------------------------------------------------

from pangenomesasgraphdatabases_spark.operators.jpeg_codec import (  # noqa: E402
    decode_jpeg,
)

IMAGE_DECODERS = {
    "image/bmp": decode_bmp,
    "image/x-portable-pixmap": decode_ppm,
    "image/png": decode_png,
    "image/jpeg": decode_jpeg,
}
