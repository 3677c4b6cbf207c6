"""Pure-Python image header decode — real bytes, no PIL.

The reference decodes images with PIL / pdf2image before sending them to
the VLM (reference core/utils.py:84-96, ds.py:135-136); this sandbox has
no imaging libraries, but the HEADER-level decode (container sniff +
pixel dimensions) needs none: PNG/GIF dims sit at fixed offsets and JPEG
dims sit in the first SOF segment of a well-defined marker stream. That
is the part of "decode" a data pipeline actually needs at scan time —
dims for resize planning, format for routing — and it runs here on the
real payload bytes. The full pixel decode lives beside it in
core/{png,gif,jpeg,bmp,tiff,vp8l}pix.py; only WebP's lossy VP8 path and
perceptual a/v codecs remain honestly stubbed (None).

All parsers are defensive: anything malformed returns None rather than
raising (a 100TB scan must never die on one corrupt blob).
"""
from __future__ import annotations

import struct

PNG_SIG = b"\x89PNG\r\n\x1a\n"

# JPEG standalone markers carry no length word and must be skipped as such
_JPEG_STANDALONE = {0xD8, 0x01} | set(range(0xD0, 0xD8))
# SOFn markers that carry frame dims (C4=DHT, C8=JPG, CC=DAC are not SOF)
_JPEG_SOF = {0xC0, 0xC1, 0xC2, 0xC3, 0xC5, 0xC6, 0xC7,
             0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF}


def sniff_format(payload: bytes | None) -> str | None:
    """Container sniff from magic bytes: 'png' | 'jpeg' | 'gif' | 'bmp' |
    'tiff' | 'webp' | None. Lossless webp (VP8L) pixel-decodes for real
    in core/vp8lpix.py; lossy VP8 stays an honest None (boolean
    arithmetic decoder — genuinely library territory)."""
    if not payload:
        return None
    if payload[:8] == PNG_SIG:
        return "png"
    if payload[:2] == b"\xff\xd8":
        return "jpeg"
    if payload[:6] in (b"GIF87a", b"GIF89a"):
        return "gif"
    if payload[:2] == b"BM":
        return "bmp"
    if payload[:4] in (b"II*\x00", b"MM\x00*"):
        return "tiff"
    if payload[:4] == b"RIFF" and payload[8:12] == b"WEBP":
        return "webp"
    return None


def png_dims(payload: bytes) -> tuple[int, int] | None:
    """PNG IHDR is mandated to be the first chunk: width/height are
    big-endian u32 at fixed offsets 16/20, limited to 1..2**31-1 (PNG
    spec section 7.1); anything outside that range is not a PNG."""
    if len(payload) < 24 or payload[:8] != PNG_SIG \
            or payload[12:16] != b"IHDR":
        return None
    w, h = struct.unpack(">II", payload[16:24])
    return (w, h) if 0 < w < 2**31 and 0 < h < 2**31 else None


def jpeg_dims(payload: bytes) -> tuple[int, int] | None:
    """Walk the JPEG marker stream to the first SOFn frame header:
    (..., len u16, precision u8, height u16, width u16, ...)."""
    if len(payload) < 4 or payload[:2] != b"\xff\xd8":
        return None
    i = 2
    n = len(payload)
    while i + 1 < n:
        if payload[i] != 0xFF:          # not a marker — corrupt stream
            return None
        marker = payload[i + 1]
        if marker == 0xFF:              # fill byte padding
            i += 1
            continue
        if marker in _JPEG_STANDALONE:
            i += 2
            continue
        if marker == 0xD9:              # EOI before any SOF
            return None
        if i + 4 > n:
            return None
        seg_len = struct.unpack(">H", payload[i + 2:i + 4])[0]
        if seg_len < 2:
            return None
        if marker in _JPEG_SOF:
            if i + 9 > n:
                return None
            h, w = struct.unpack(">HH", payload[i + 5:i + 9])
            return (w, h) if w > 0 and h > 0 else None
        i += 2 + seg_len
    return None


def gif_dims(payload: bytes) -> tuple[int, int] | None:
    """GIF logical-screen width/height: little-endian u16 at offsets 6/8."""
    if len(payload) < 10 or payload[:6] not in (b"GIF87a", b"GIF89a"):
        return None
    w, h = struct.unpack("<HH", payload[6:10])
    return (w, h) if w > 0 and h > 0 else None


def bmp_dims(payload: bytes) -> tuple[int, int] | None:
    """BMP width/height: i32 at DIB offsets 18/22 (negative height means
    top-down storage; dims are its magnitude)."""
    if len(payload) < 26 or payload[:2] != b"BM":
        return None
    dib_size = struct.unpack_from("<I", payload, 14)[0]
    if dib_size < 40:
        return None
    w, h = struct.unpack_from("<ii", payload, 18)
    return (w, abs(h)) if w > 0 and h != 0 else None


def tiff_dims(payload: bytes) -> tuple[int, int] | None:
    """TIFF width/height: tags 256/257 in the first IFD (both byte
    orders), via the baseline IFD walker in core/tiffpix.py."""
    if len(payload) < 8 or payload[:4] not in (b"II*\x00", b"MM\x00*"):
        return None
    bo = "<" if payload[:2] == b"II" else ">"
    from docext_spark.core import tiffpix
    ifd_off = struct.unpack(bo + "I", payload[4:8])[0]
    if ifd_off + 2 > len(payload):
        return None
    n = struct.unpack(bo + "H", payload[ifd_off:ifd_off + 2])[0]
    if ifd_off + 2 + 12 * n > len(payload):
        return None
    w = h = None
    for k in range(n):
        e = ifd_off + 2 + 12 * k
        tag, typ, count = struct.unpack(bo + "HHI", payload[e:e + 8])
        if tag in (256, 257):
            vals = tiffpix._read_values(payload, bo, typ, count,
                                        payload[e + 8:e + 12])
            if not vals:
                return None
            if tag == 256:
                w = vals[0]
            else:
                h = vals[0]
    return (w, h) if w and h and w > 0 and h > 0 else None


def webp_dims(payload: bytes) -> tuple[int, int] | None:
    """WebP dims from the VP8/VP8L/VP8X chunk headers (header-level only;
    the pixel decode itself is an honest None — library territory)."""
    if len(payload) < 30 or payload[:4] != b"RIFF" \
            or payload[8:12] != b"WEBP":
        return None
    chunk = payload[12:16]
    if chunk == b"VP8X":                  # extended: 24-bit w-1/h-1 at 24
        w = int.from_bytes(payload[24:27], "little") + 1
        h = int.from_bytes(payload[27:30], "little") + 1
        return (w, h)
    if chunk == b"VP8 ":                  # lossy: u14 pairs after 3-byte
        if payload[23:26] != b"\x9d\x01\x2a":   # frame tag + start code
            return None
        w = struct.unpack_from("<H", payload, 26)[0] & 0x3FFF
        h = struct.unpack_from("<H", payload, 28)[0] & 0x3FFF
        return (w, h) if w > 0 and h > 0 else None
    if chunk == b"VP8L":                  # lossless: 14-bit pairs after 0x2f
        if payload[20] != 0x2F:
            return None
        bits = int.from_bytes(payload[21:25], "little")
        w = (bits & 0x3FFF) + 1
        h = ((bits >> 14) & 0x3FFF) + 1
        return (w, h)
    return None


def parse_dims(payload: bytes | None) -> tuple[str, int, int] | None:
    """(format, width, height) from real payload bytes, or None."""
    fmt = sniff_format(payload)
    parsers = {"png": png_dims, "jpeg": jpeg_dims, "gif": gif_dims,
               "bmp": bmp_dims, "tiff": tiff_dims, "webp": webp_dims}
    if fmt not in parsers:
        return None
    dims = parsers[fmt](payload)
    return (fmt, dims[0], dims[1]) if dims else None


# -- deterministic header builders (test/fixture side) ---------------------

def make_png(width: int, height: int, filler: bytes = b"") -> bytes:
    """Minimal-but-valid-header PNG: signature + IHDR(w, h, 8-bit RGBA)."""
    ihdr = struct.pack(">II", width, height) + b"\x08\x06\x00\x00\x00"
    return (PNG_SIG + struct.pack(">I", 13) + b"IHDR" + ihdr
            + b"\x00\x00\x00\x00" + filler)


def make_jpeg(width: int, height: int, filler: bytes = b"") -> bytes:
    """SOI + 16-byte JFIF APP0 + SOF0 frame header (grayscale 1-component);
    the SOF0 height/width words land at fixed offsets 25/27, which is what
    lets a SQL oracle re-parse what the marker-walk decoder reads."""
    app0 = b"\xff\xe0\x00\x10JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00"
    sof0 = b"\xff\xc0\x00\x0b\x08" + struct.pack(">HH", height, width) \
        + b"\x01\x01\x11\x00"
    return b"\xff\xd8" + app0 + sof0 + filler


def make_gif(width: int, height: int, filler: bytes = b"") -> bytes:
    return b"GIF89a" + struct.pack("<HH", width, height) + filler
