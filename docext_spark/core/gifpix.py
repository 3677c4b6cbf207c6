"""Pure-Python GIF pixel decode — full LZW, stdlib only.

Completes the image half of the multimodal decode story (PNG pixels:
core/pngpix.py; WAV samples: core/wavpcm.py): a GIF's image data is LZW
with GIF's variable-width code packing (LSB-first), which needs no
library — just the dictionary algorithm from the GIF89a spec appendix.
The decoder implements FULL LZW (code-width growth to 12 bits, CLEAR
resets, the code==next "KwKwK" case); the fixture encoder uses the
classic fixed-width "ungif" form (every symbol a root code, CLEAR before
any width change) which is valid GIF by construction, and the decoder's
growth path is pinned separately by a hand-computed code-stream test.

Scope: first image frame (decode_gif), global or local color table,
non-interlaced OR interlaced (the GIF89a four-pass row order — rows
0,8,16…, then 4,12…, then 2,6…, then odd rows — undone on decode), and
FULL ANIMATION (decode_gif_frames: sub-rect frame compositing, GCE
transparency + delays, disposal methods 0-3, NETSCAPE2.0 loop count via
gif_animation_info), LZW minimum code sizes 2-8 (the GIF89a range; the
root codes are byte values). All three readers take the header from
_gif_screen and walk the blocks with the one _gif_blocks generator;
each keeps its own checks on the events it reads. Malformed → None
(a 100TB scan never dies on one blob; route exotica to a codec fleet).
"""
from __future__ import annotations

import struct

# decode-bomb guard: the LZW stream's expansion is bounded by max_pixels,
# but the dims it is bounded BY come from the file itself — a ~150KB blob
# claiming 65535×65535 would otherwise let the index buffer grow to ~4GB
# (LZW entries grow by one symbol per code, so output is quadratic in
# code count) and then allocate a 12GB RGB buffer. A pure-Python decoder's
# honest scope is small fixture/thumbnail imagery; larger dims return None.
MAX_PIXELS = 4_000_000


def _lzw_decode(min_code_size: int, data: bytes, max_pixels: int):
    """GIF-variant LZW: variable width starting min+1, LSB-first packing,
    CLEAR/EOI codes, width growth at next == 2^width (cap 12). The
    minimum code size must be 2-8 (the root codes are byte values);
    anything else returns None."""
    if not 2 <= min_code_size <= 8:
        return None
    clear = 1 << min_code_size
    eoi = clear + 1
    width = min_code_size + 1
    dictionary: list[bytes] = [bytes([i]) for i in range(clear)] + [b"", b""]
    next_code = eoi + 1
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
                width = min_code_size + 1
                dictionary = dictionary[:eoi + 1]
                next_code = eoi + 1
                prev = None
                continue
            if code == eoi:
                return bytes(out)
            if prev is None:
                if code >= len(dictionary):
                    return None
                entry = dictionary[code]
            elif code < len(dictionary):
                entry = dictionary[code]
            elif code == next_code:
                entry = prev + prev[:1]          # the KwKwK case
            else:
                return None                      # corrupt stream
            out += entry
            if len(out) > max_pixels:
                return None                      # over-long stream
            if prev is not None:
                dictionary.append(prev + entry[:1])
                next_code += 1
                if next_code == (1 << width) and width < 12:
                    width += 1
            prev = entry
    # missing EOI: tolerate if the pixel count already matches
    return bytes(out)


def interlace_rows(h: int) -> list[int]:
    """Display row for each stream row under GIF89a interlacing: pass 1
    rows 0,8,16…, pass 2 rows 4,12…, pass 3 rows 2,6…, pass 4 odd rows.
    Shared by the decoder (to undo) and the fixture encoder (to apply),
    so the reordering cannot desynchronize."""
    return [y for start, step in ((0, 8), (4, 8), (2, 4), (1, 2))
            for y in range(start, h, step)]


def _gif_screen(payload: bytes | None):
    """(width, height, background index, global color table or None,
    offset of the first block) from the header and logical screen
    descriptor, or None if the payload is not a GIF."""
    if not payload or len(payload) < 13 \
            or payload[:6] not in (b"GIF87a", b"GIF89a"):
        return None
    w, h = struct.unpack("<HH", payload[6:10])
    packed = payload[10]
    pos = 13
    gct = None
    if packed & 0x80:                            # global color table
        size = 3 * (2 << (packed & 0x07))
        gct = payload[pos:pos + size]
        pos += size
    return w, h, payload[11], gct, pos


def _sub_blocks(payload: bytes, pos: int) -> tuple[list[bytes], int]:
    """A data sub-block chain at ``pos``: (blocks, offset past its
    terminator)."""
    blocks = []
    while pos < len(payload) and payload[pos] != 0:
        ln = payload[pos]
        blocks.append(payload[pos + 1:pos + 1 + ln])
        pos += 1 + ln
    return blocks, pos + 1


def _gif_blocks(payload: bytes, pos: int):
    """Walk the GIF89a block grammar from ``pos``. Yields
    ("ext", label, sub-blocks) per extension, ("image", (left, top, w,
    h), interlaced, local color table or None, LZW minimum code size,
    LZW data sub-blocks) per image and, as the last event, ("bad",) for a truncated
    or unknown block. The trailer or the end of the payload ends the
    walk."""
    n = len(payload)
    while pos < n:
        b = payload[pos]
        if b == 0x21 and pos + 2 <= n:           # extension
            blocks, end = _sub_blocks(payload, pos + 2)
            yield ("ext", payload[pos + 1], blocks)
            pos = end
        elif b == 0x2C and pos + 10 <= n:        # image descriptor
            rect = struct.unpack("<HHHH", payload[pos + 1:pos + 9])
            ipacked = payload[pos + 9]
            pos += 10
            lct = None
            if ipacked & 0x80:                   # local color table
                size = 3 * (2 << (ipacked & 0x07))
                lct = payload[pos:pos + size]
                pos += size
            if pos >= n:
                yield ("bad",)
                return
            blocks, end = _sub_blocks(payload, pos + 1)
            yield ("image", rect, bool(ipacked & 0x40), lct, payload[pos],
                   blocks)
            pos = end
        elif b == 0x3B:                          # trailer
            return
        else:
            yield ("bad",)
            return


def _paint(canvas: bytearray, cw: int, palette: bytes, indices: bytes,
           rect: tuple[int, int, int, int], interlaced: bool,
           transparent: int | None) -> bool:
    """Draw one image's palette indices into an RGB canvas ``cw`` pixels
    wide at ``rect`` = (left, top, w, h), skipping the transparent index.
    Interlaced streams carry rows in the GIF89a four-pass order, so
    stream row j lands on display row interlace_rows(h)[j]. False if an
    index is past the palette."""
    left, top, fw, fh = rect
    npal = len(palette) // 3
    row_of = interlace_rows(fh) if interlaced else range(fh)
    for j in range(fh):
        src = j * fw
        dst = (top + row_of[j]) * cw + left
        for x in range(fw):
            idx = indices[src + x]
            if idx == transparent:
                continue
            if idx >= npal:
                return False
            o = (dst + x) * 3
            canvas[o:o + 3] = palette[idx * 3:idx * 3 + 3]
    return True


def decode_gif(payload: bytes | None):
    """(width, height, 3, rgb_bytes) of the FIRST image frame, or None."""
    screen = _gif_screen(payload)
    if screen is None:
        return None
    _, _, _, gct, pos = screen
    for event in _gif_blocks(payload, pos):
        if event[0] != "image":
            if event[0] == "bad":
                return None
            continue
        _, rect, interlaced, lct, min_code_size, data = event
        w, h = rect[2:]
        palette = gct if lct is None else lct
        if palette is None or w == 0 or h == 0 or w * h > MAX_PIXELS:
            return None                          # decode-bomb guard too
        indices = _lzw_decode(min_code_size, b"".join(data), w * h)
        if indices is None or len(indices) < w * h:
            return None
        rgb = bytearray(w * h * 3)
        if not _paint(rgb, w, palette, indices, (0, 0, w, h), interlaced,
                      None):
            return None
        return (w, h, 3, bytes(rgb))
    return None


# -- fixture encoders (fixed-width "ungif" LZW — valid by construction) -----

def _color_table(palette: list[tuple[int, int, int]]) -> tuple[int, bytes]:
    """(size bits, table): the palette padded with black to a power of
    two of at least 2 entries."""
    pal_bits = max(1, (max(1, len(palette) - 1)).bit_length())
    table = b"".join(bytes(palette[i]) if i < len(palette) else b"\0\0\0"
                     for i in range(1 << pal_bits))
    return pal_bits, table


def _lzw_image_data(indices: list[int], pal_bits: int) -> bytes:
    """An image's table-based data: the LZW minimum code size, then the
    indices as fixed-width LZW (every symbol a root code, CLEAR before
    the decoder's dictionary would force a width change) in 255-byte
    sub-blocks, then the block terminator."""
    if any(i >= 1 << pal_bits for i in indices):
        raise ValueError("index out of palette range")
    min_code = max(2, pal_bits)
    clear = 1 << min_code
    eoi = clear + 1
    width = min_code + 1
    codes = [clear]
    next_code = eoi + 1
    for sym in indices:
        codes.append(sym)
        next_code += 1                           # decoder adds one entry
        if next_code >= (1 << width) - 1:        # stay fixed-width
            codes.append(clear)
            next_code = eoi + 1
    codes.append(eoi)
    acc = nbits = 0
    data = bytearray()
    for code in codes:
        acc |= code << nbits
        nbits += width
        while nbits >= 8:
            data.append(acc & 0xFF)
            acc >>= 8
            nbits -= 8
    if nbits:
        data.append(acc & 0xFF)
    out = bytearray([min_code])
    for i in range(0, len(data), 255):
        chunk = data[i:i + 255]
        out.append(len(chunk))
        out += chunk
    out.append(0x00)
    return bytes(out)


def encode_gif(w: int, h: int, palette: list[tuple[int, int, int]],
               indices: list[int], interlace: bool = False) -> bytes:
    """A fully valid GIF87a: global color table sized to the palette,
    image data as fixed-width LZW (_lzw_image_data).
    ``interlace=True`` stores rows in the four-pass order and sets the
    descriptor flag — a row-preserving re-arrangement, so
    decode(interlaced) == decode(plain) for every input."""
    if len(indices) != w * h:
        raise ValueError("indices do not match dims")
    if interlace:
        indices = [indices[y * w + x]
                   for y in interlace_rows(h) for x in range(w)]
    pal_bits, table = _color_table(palette)
    out = bytearray()
    out += b"GIF87a" + struct.pack("<HH", w, h)
    out.append(0x80 | (pal_bits - 1))            # GCT present, size bits
    out += b"\x00\x00" + table
    out += b"\x2C" + struct.pack("<HHHH", 0, 0, w, h)
    out.append(0x40 if interlace else 0x00)
    out += _lzw_image_data(indices, pal_bits)
    out += b"\x3B"
    return bytes(out)


# -- animation: multi-frame compositing + metadata (GIF89a) ------------------

def gif_animation_info(payload: bytes | None):
    """Light block walk, no LZW: (width, height, n_frames,
    total_duration_ms, loop_count) or None. Delays come from each
    frame's Graphic Control Extension (1/100 s units); loop_count from
    the NETSCAPE2.0 application extension (0 = infinite), None if
    absent. Frames without a GCE contribute 0 ms (the spec default)."""
    screen = _gif_screen(payload)
    if screen is None:
        return None
    w, h, _, _, pos = screen
    n_frames = 0
    total_ms = 0
    loop = None
    pending_delay = 0
    for event in _gif_blocks(payload, pos):
        if event[0] == "bad":
            return None
        if event[0] == "image":
            n_frames += 1
            total_ms += pending_delay
            pending_delay = 0
            continue
        _, label, blocks = event
        if label == 0xF9 and blocks and len(blocks[0]) >= 3:
            pending_delay = struct.unpack("<H", blocks[0][1:3])[0] * 10
        elif label == 0xFF and blocks and blocks[0] == b"NETSCAPE2.0" \
                and len(blocks) > 1 and len(blocks[1]) >= 3 \
                and blocks[1][0] == 1:
            loop = struct.unpack("<H", blocks[1][1:3])[0]
    if n_frames == 0:
        return None
    return (w, h, n_frames, total_ms, loop)


def decode_gif_frames(payload: bytes | None, max_frames: int = 64):
    """Full animation decode with compositing: (width, height, frames)
    where frames is a list of (delay_ms, rgb_bytes) canvases AFTER each
    frame draws, or None. Honors sub-rect frames, local color tables,
    GCE transparency (transparent pixels leave the canvas untouched),
    and disposal methods 0/1 (keep), 2 (restore the frame rect to the
    background color) and 3 (restore the pre-frame canvas). The canvas
    starts as the logical-screen background color (black if the
    background index is out of table range)."""
    screen = _gif_screen(payload)
    if screen is None:
        return None
    w, h, bg_idx, gct, pos = screen
    if w == 0 or h == 0 or w * h > MAX_PIXELS:
        return None
    bg = (bytes(gct[bg_idx * 3:bg_idx * 3 + 3])
          if gct and bg_idx * 3 + 3 <= len(gct) else b"\x00\x00\x00")
    canvas = bytearray(bg * (w * h))
    frames = []
    delay_ms = 0
    disposal = 0
    transparent = None
    for event in _gif_blocks(payload, pos):
        if len(frames) >= max_frames:
            break
        if event[0] == "bad":
            return None
        if event[0] == "ext":
            _, label, blocks = event
            if label == 0xF9 and blocks and len(blocks[0]) >= 4:
                flags = blocks[0][0]
                disposal = (flags >> 2) & 0x7
                delay_ms = struct.unpack("<H", blocks[0][1:3])[0] * 10
                transparent = blocks[0][3] if flags & 1 else None
            continue
        _, rect, interlaced, lct, min_code_size, data = event
        left, top, fw, fh = rect
        palette = gct if lct is None else lct
        if palette is None or fw == 0 or fh == 0 \
                or left + fw > w or top + fh > h:
            return None
        indices = _lzw_decode(min_code_size, b"".join(data), fw * fh)
        if indices is None or len(indices) < fw * fh:
            return None
        before = bytes(canvas) if disposal == 3 else None
        if not _paint(canvas, w, palette, indices, rect, interlaced,
                      transparent):
            return None
        frames.append((delay_ms, bytes(canvas)))
        if disposal == 2:                        # restore rect to bg
            for yy in range(top, top + fh):
                for x in range(left, left + fw):
                    o = (yy * w + x) * 3
                    canvas[o:o + 3] = bg
        elif disposal == 3 and before is not None:
            canvas = bytearray(before)
        delay_ms = 0
        disposal = 0
        transparent = None
    if not frames:
        return None
    return (w, h, frames)


def encode_gif_animated(w: int, h: int,
                        palette: list[tuple[int, int, int]],
                        frames: list[dict], loop: int | None = 0,
                        bg_idx: int = 0) -> bytes:
    """Fully valid animated GIF89a (fixture/test side): NETSCAPE2.0
    loop extension, one Graphic Control Extension + image descriptor
    per frame. Each frame dict: {left, top, w, h, indices, delay_ms,
    disposal (0-3), transparent (palette index or None)}. Image data is
    the fixed-width "ungif" LZW of _lzw_image_data."""
    pal_bits, table = _color_table(palette)
    out = bytearray()
    out += b"GIF89a" + struct.pack("<HH", w, h)
    out.append(0x80 | (pal_bits - 1))
    out.append(bg_idx)
    out.append(0)
    out += table
    if loop is not None:
        out += b"\x21\xff\x0bNETSCAPE2.0\x03\x01"
        out += struct.pack("<H", loop) + b"\x00"
    for f in frames:
        fl, ft = f.get("left", 0), f.get("top", 0)
        fw, fh = f["w"], f["h"]
        indices = f["indices"]
        if len(indices) != fw * fh or fl + fw > w or ft + fh > h:
            raise ValueError("frame rect/indices invalid")
        trans = f.get("transparent")
        flags = (f.get("disposal", 0) & 0x7) << 2
        if trans is not None:
            flags |= 1
        out += b"\x21\xf9\x04"
        out.append(flags)
        out += struct.pack("<H", f.get("delay_ms", 0) // 10)
        out.append(trans if trans is not None else 0)
        out += b"\x00"
        out += b"\x2C" + struct.pack("<HHHH", fl, ft, fw, fh)
        out.append(0x00)                         # no LCT, no interlace
        out += _lzw_image_data(indices, pal_bits)
    out += b"\x3B"
    return bytes(out)
