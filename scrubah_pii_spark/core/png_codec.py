"""Pure-Python PNG codec — closes the JPEG/PNG gap from the round-4 verdict.

PNG is zlib-deflate over per-scanline filtered bytes (public spec: RFC 2083 /
W3C PNG 2nd ed.), and CPython ships zlib — so unlike JPEG no numerical
transform is involved and EVERY conforming image round-trips losslessly.
Features are therefore exact integer sums + one division, DuckDB-oracle
reproducible for arbitrary (not just constant-block) payloads.

Scope (round 5 completed the format): all five colour types — greyscale (0,
depths 1/2/4/8/16), truecolour (2, 8/16), palette (3, depths 1/2/4/8 via
PLTE), grey+alpha (4, 8/16), truecolour+alpha (6, 8/16) — all five filter
types, both sequential and Adam7-interlaced rasters. The interlace trick:
features are per-channel SUMS and every pixel appears in exactly one Adam7
pass, so each pass sub-image is unfiltered and summed independently — no
positional reassembly needed. The encoder writes colour types 0/2 (depth 8,
optional Adam7) plus palette images, as the synthesis/test helper.

Feature definition (media_codecs contract): per-channel
[sum(channel)/(maxval*n_px)] over the decoded raster, maxval = 2^depth - 1
(grey -> 1 feature, grey+alpha -> 2, RGB -> 3, RGBA -> 4); palette images
decode to their RGB mapping -> 3 features normalized by 255.
"""

from __future__ import annotations

import struct
import zlib

from .media_codecs import MediaDecodeError

PNG_SIG = b"\x89PNG\r\n\x1a\n"

_CHANNELS = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}
_DEPTHS = {0: (1, 2, 4, 8, 16), 2: (8, 16), 3: (1, 2, 4, 8),
           4: (8, 16), 6: (8, 16)}

# Adam7: (x_start, x_step, y_start, y_step) per pass, spec §8.2
_ADAM7 = (
    (0, 8, 0, 8), (4, 8, 0, 8), (0, 4, 4, 8), (2, 4, 0, 4),
    (0, 2, 2, 4), (1, 2, 0, 2), (0, 1, 1, 2),
)


def _crc_chunk(ctype: bytes, body: bytes) -> bytes:
    return (
        struct.pack(">I", len(body))
        + ctype
        + body
        + struct.pack(">I", zlib.crc32(ctype + body) & 0xFFFFFFFF)
    )


def encode_png(
    pixels: bytes,
    width: int,
    height: int,
    channels: int = 1,
    interlace: bool = False,
) -> bytes:
    """Minimal PNG writer: 8-bit grey (channels=1) or RGB (channels=3),
    filter type 0 on every scanline, optionally Adam7-interlaced."""
    if channels not in (1, 3):
        raise ValueError("channels must be 1 (grey) or 3 (RGB)")
    if len(pixels) != width * height * channels:
        raise ValueError("pixel buffer size mismatch")
    color_type = 0 if channels == 1 else 2
    ihdr = struct.pack(
        ">IIBBBBB", width, height, 8, color_type, 0, 0, 1 if interlace else 0
    )
    stride = width * channels
    if interlace:
        raw = bytearray()
        for x0, xs, y0, ys in _ADAM7:
            pw = len(range(x0, width, xs))
            if pw == 0:
                continue
            for y in range(y0, height, ys):
                raw.append(0)
                for x in range(x0, width, xs):
                    off = (y * width + x) * channels
                    raw += pixels[off : off + channels]
        raw = bytes(raw)
    else:
        raw = b"".join(
            b"\x00" + pixels[y * stride : (y + 1) * stride]
            for y in range(height)
        )
    return (
        PNG_SIG
        + _crc_chunk(b"IHDR", ihdr)
        + _crc_chunk(b"IDAT", zlib.compress(raw, 6))
        + _crc_chunk(b"IEND", b"")
    )


def encode_png_palette(
    indices: bytes, width: int, height: int, palette: bytes, depth: int = 8
) -> bytes:
    """Palette (colour type 3) writer: indices = w*h palette indices,
    palette = packed RGB bytes, depth in {1,2,4,8} (indices are bit-packed
    per scanline for depth < 8)."""
    if depth not in (1, 2, 4, 8):
        raise ValueError("palette depth must be 1, 2, 4 or 8")
    n_colors = len(palette) // 3
    if len(palette) != n_colors * 3 or not (1 <= n_colors <= 256):
        raise ValueError("palette must be 3*n bytes, 1 <= n <= 256")
    if len(indices) != width * height:
        raise ValueError("index buffer size mismatch")
    if max(indices) >= min(n_colors, 1 << depth):
        raise ValueError("index out of range for palette/depth")
    ihdr = struct.pack(">IIBBBBB", width, height, depth, 3, 0, 0, 0)
    raw = bytearray()
    per_byte = 8 // depth
    for y in range(height):
        raw.append(0)
        row = indices[y * width : (y + 1) * width]
        if depth == 8:
            raw += row
        else:
            for i in range(0, width, per_byte):
                b = 0
                for j, v in enumerate(row[i : i + per_byte]):
                    b |= v << (8 - depth * (j + 1))
                raw.append(b)
    return (
        PNG_SIG
        + _crc_chunk(b"IHDR", ihdr)
        + _crc_chunk(b"PLTE", palette)
        + _crc_chunk(b"IDAT", zlib.compress(bytes(raw), 6))
        + _crc_chunk(b"IEND", b"")
    )


def _paeth(a: int, b: int, c: int) -> int:
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    if pb <= pc:
        return b
    return c


def _unfilter_pass(
    raw: bytes, off: int, pw: int, ph: int, channels: int, depth: int
):
    """Unfilter one (sub-)image of pw x ph pixels starting at raw[off].
    Returns (scanlines as list of bytes, bytes consumed)."""
    stride = (pw * channels * depth + 7) // 8
    bpp = max(1, channels * depth // 8)
    need = ph * (stride + 1)
    if off + need > len(raw):
        raise MediaDecodeError(
            f"raster size mismatch: need {need} at {off}, have {len(raw)}"
        )
    prev = bytearray(stride)
    lines = []
    for y in range(ph):
        base = off + y * (stride + 1)
        ftype = raw[base]
        line = bytearray(raw[base + 1 : base + 1 + stride])
        if ftype == 0:
            pass
        elif ftype == 1:  # Sub
            for i in range(bpp, stride):
                line[i] = (line[i] + line[i - bpp]) & 0xFF
        elif ftype == 2:  # Up
            for i in range(stride):
                line[i] = (line[i] + prev[i]) & 0xFF
        elif ftype == 3:  # Average
            for i in range(stride):
                a = line[i - bpp] if i >= bpp else 0
                line[i] = (line[i] + ((a + prev[i]) >> 1)) & 0xFF
        elif ftype == 4:  # Paeth
            for i in range(stride):
                a = line[i - bpp] if i >= bpp else 0
                c = prev[i - bpp] if i >= bpp else 0
                line[i] = (line[i] + _paeth(a, prev[i], c)) & 0xFF
        else:
            raise MediaDecodeError(f"bad filter type {ftype} on line {y}")
        lines.append(bytes(line))
        prev = line
    return lines, need


def _line_samples(line: bytes, pw: int, channels: int, depth: int):
    """Yield the pw*channels integer samples of one unfiltered scanline."""
    n = pw * channels
    if depth == 8:
        yield from line[:n]
    elif depth == 16:
        for i in range(n):
            yield (line[2 * i] << 8) | line[2 * i + 1]
    else:
        per_byte = 8 // depth
        mask = (1 << depth) - 1
        for i in range(n):
            b = line[i // per_byte]
            shift = 8 - depth * (i % per_byte + 1)
            yield (b >> shift) & mask


def decode_png(payload: bytes) -> dict:
    """Parse + inflate + unfilter (+ de-interlace); return the media_codecs
    decode dict."""
    if payload[:8] != PNG_SIG:
        raise MediaDecodeError("not a PNG payload (bad signature)")
    pos = 8
    ihdr = None
    plte = None
    idat = bytearray()
    seen_iend = False
    while pos + 8 <= len(payload):
        (length,) = struct.unpack_from(">I", payload, pos)
        ctype = payload[pos + 4 : pos + 8]
        body = payload[pos + 8 : pos + 8 + length]
        if len(body) != length:
            raise MediaDecodeError("truncated chunk body")
        crc_off = pos + 8 + length
        if crc_off + 4 > len(payload):
            raise MediaDecodeError("truncated chunk crc")
        (crc,) = struct.unpack_from(">I", payload, crc_off)
        if crc != (zlib.crc32(ctype + body) & 0xFFFFFFFF):
            raise MediaDecodeError(f"bad crc in {ctype!r} chunk")
        if ctype == b"IHDR":
            ihdr = struct.unpack(">IIBBBBB", body)
        elif ctype == b"PLTE":
            if length == 0 or length % 3:
                raise MediaDecodeError("PLTE length not a multiple of 3")
            plte = body
        elif ctype == b"IDAT":
            idat += body
        elif ctype == b"IEND":
            seen_iend = True
            break
        # ancillary chunks: skip
        pos = crc_off + 4
    if ihdr is None:
        raise MediaDecodeError("missing IHDR")
    if not seen_iend:
        raise MediaDecodeError("missing IEND")
    width, height, depth, color_type, comp, filt, interlace = ihdr
    if width == 0 or height == 0:
        raise MediaDecodeError("zero image dimension")
    if color_type not in _CHANNELS:
        raise MediaDecodeError(f"colour type {color_type} unsupported")
    if depth not in _DEPTHS[color_type]:
        raise MediaDecodeError(
            f"{depth}-bit depth invalid for colour type {color_type}"
        )
    if comp != 0 or filt != 0:
        raise MediaDecodeError("nonzero compression/filter method")
    if interlace not in (0, 1):
        raise MediaDecodeError(f"bad interlace method {interlace}")
    if color_type == 3 and plte is None:
        raise MediaDecodeError("palette image without PLTE chunk")
    channels = _CHANNELS[color_type]
    try:
        raw = zlib.decompress(bytes(idat))
    except zlib.error as e:
        raise MediaDecodeError(f"IDAT inflate failed: {e}") from e

    if interlace:
        passes = [
            (len(range(x0, width, xs)), len(range(y0, height, ys)))
            for x0, xs, y0, ys in _ADAM7
        ]
        passes = [(pw, ph) for pw, ph in passes if pw and ph]
    else:
        passes = [(width, height)]

    n_colors = len(plte) // 3 if plte else 0
    counts = [0] * n_colors  # palette-index histogram (type 3)
    sums = [0] * channels
    off = 0
    for pw, ph in passes:
        lines, used = _unfilter_pass(raw, off, pw, ph, channels, depth)
        off += used
        if color_type == 3:
            for line in lines:
                for v in _line_samples(line, pw, 1, depth):
                    if v >= n_colors:
                        raise MediaDecodeError(
                            f"palette index {v} out of range {n_colors}"
                        )
                    counts[v] += 1
        elif depth == 8:
            # fast path: bytes-slice stride sums (stride == pw*channels)
            for line in lines:
                n = pw * channels
                for ch in range(channels):
                    sums[ch] += sum(line[ch:n:channels])
        else:
            for line in lines:
                for i, v in enumerate(_line_samples(line, pw, channels, depth)):
                    sums[i % channels] += v
    if off != len(raw):
        raise MediaDecodeError(
            f"raster size mismatch: consumed {off} of {len(raw)}"
        )
    n_px = width * height
    if color_type == 3:
        rgb = [0, 0, 0]
        for k in range(n_colors):
            c = counts[k]
            if c:
                rgb[0] += c * plte[3 * k]
                rgb[1] += c * plte[3 * k + 1]
                rgb[2] += c * plte[3 * k + 2]
        feats = [s / (255 * n_px) for s in rgb]
    else:
        maxval = (1 << depth) - 1
        feats = [s / (maxval * n_px) for s in sums]
    return {
        "codec": "png",
        "width": width,
        "height": height,
        "duration_ms": None,
        "features": feats,
    }
