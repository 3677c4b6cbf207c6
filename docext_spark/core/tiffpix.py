"""Pure-Python baseline TIFF PIXEL decode — stdlib struct only, no PIL.

The reference's accepted-extension predicate includes ``tiff``
(reference docext/core/utils.py:56-70; PIL decodes it at
core/utils.py:13-15) — this engine decodes the real bytes itself.
Baseline TIFF (TIFF 6.0 spec, part 1) is a tag-directory walk plus raw
or PackBits-compressed strips:

    header:  byte order ('II' little / 'MM' big) + magic 42 + IFD offset
    IFD:     n × 12-byte entries (tag, type, count, value-or-offset)
    strips:  RowsPerStrip rows each, at StripOffsets[i], StripByteCounts[i]

Scope (baseline, the formats a pipeline actually meets): 8 or 16 bits
per sample (16-bit downscales to the high byte, the pngpix convention;
predictor differencing is per 16-bit value, libtiff horAcc16),
1 (grayscale) or 3 (RGB) samples per pixel, chunky planar
config, Compression 1 (none), 5 (LZW per TIFF 6.0 §13 — MSB-first
packing, early code-width change, Clear/EOI, optionally with the
horizontal-differencing Predictor 2, tag 317), 8/32946 (Adobe/legacy
Deflate — stdlib zlib, bounded decompress, predictor supported) or
32773 (PackBits, the spec's own RLE), PhotometricInterpretation 0/1/2
(WhiteIsZero is
inverted on decode so consumers always see black=0), both byte orders,
multi-strip files, BOTH planar configurations (chunky RGBRGB…, or
planar=2 with each sample plane in its own strip sequence, predictor
differencing within the plane), TILED layout (TIFF 6.0 §15, tags
322-325: TileWidth/TileLength multiples of 16, right/bottom edge tiles
padded to full size and cropped on decode, same compression/predictor
matrix as strips, planar-2 tiles plane-sequential), and BILEVEL images
(BitsPerSample 1: bit-packed rows, CCITT RLE = T.4 Modified Huffman
compression 2, or Group 4 MMR = T.6 compression 4, via
core/ccittfax.py — fax state fresh per strip), and NEW-STYLE JPEG
(Compression 7, TIFF Tech Note 2: each strip/tile a standalone JPEG
routed through core/jpegpix.py, JPEGTables tag 347 spliced in).
Anything else — e.g. floating-point or palette TIFF — returns None: a
100TB scan must never die on one odd blob; filter on the null and route
exotica to a codec fleet. A field with no values, or a JPEGTables field
holding values above 255, is malformed and returns None too.

Decode layout: every path (raw/LZW/Deflate/PackBits, bilevel, JPEG)
goes through the one _read_chunks, which lists the strip or tile
regions, checks coverage and bounds, and crops each decoded chunk into
place; a path supplies only how one chunk's bytes become rows. Planar 2
runs it once per sample plane. The encoders write their IFD through the
one field list in _assemble_tiff.
Cross-ecosystem bit-compat: LZW, CCITT RLE/G4, and 16-bit fixtures
written by Java 17 ImageIO's independent TIFF plugin decode exactly,
and Java reads THIS encoder's JPEG-in-TIFF layouts pixel-exact
(tests/test_tiffpix.py, tests/test_ccittfax.py).

Output convention matches pngpix/gifpix/bmppix: (width, height,
channels, samples) row-major top-down interleaved, black=0.
"""
from __future__ import annotations

import struct
import zlib

# decode-bomb guard, same rationale/value as pngpix/gifpix/bmppix: IFD
# dims are attacker-controlled, and a tiny PackBits stream can claim a
# huge output — both the allocation and the RLE expansion are bounded
MAX_PIXELS = 4_000_000

_TYPE_SIZE = {1: 1, 3: 2, 4: 4, 7: 1}    # BYTE, SHORT, LONG, UNDEFINED


def packbits_decode(data: bytes, max_out: int) -> bytes | None:
    """TIFF 6.0 PackBits (Apple RLE): n in 0..127 → copy n+1 literal
    bytes; n in -127..-1 → repeat next byte 1-n times; -128 is a no-op.
    Returns None on truncation or if the output would exceed max_out."""
    out = bytearray()
    i, n = 0, len(data)
    while i < n:
        c = data[i]
        i += 1
        if c == 128:                      # -128: no-op
            continue
        if c < 128:                       # literal run of c+1
            if i + c + 1 > n or len(out) + c + 1 > max_out:
                return None
            out += data[i:i + c + 1]
            i += c + 1
        else:                             # repeat run of 257-c
            run = 257 - c
            if i >= n or len(out) + run > max_out:
                return None
            out += bytes((data[i],)) * run
            i += 1
    return bytes(out)


def packbits_encode(data: bytes) -> bytes:
    """Spec-faithful PackBits encoder (fixture/test side): repeat runs of
    ≥3 become replicate runs, the rest literal runs of ≤128."""
    out = bytearray()
    i, n = 0, len(data)
    while i < n:
        # find run length of identical bytes
        j = i + 1
        while j < n and j - i < 128 and data[j] == data[i]:
            j += 1
        if j - i >= 3:
            out += bytes((257 - (j - i), data[i]))
            i = j
            continue
        # literal run: until the next ≥3 repeat or 128 bytes
        lit = i
        while i < n and i - lit < 128:
            j = i + 1
            while j < n and j - i < 3 and data[j] == data[i]:
                j += 1
            if j - i >= 3:
                break
            # clamp: a 2-byte repeat straddling the 128 cap would push the
            # literal to 129 bytes, whose header byte 128 is the no-op code
            i = min(j, lit + 128)
        out += bytes((i - lit - 1,)) + data[lit:i]
    return bytes(out)


def lzw_decode(data: bytes, max_out: int) -> bytes | None:
    """TIFF 6.0 §13 LZW: MSB-first bit packing, ClearCode 256 / EOI 257,
    9→12-bit codes with the TIFF "early change" (width bumps when the
    next free code reaches 511/1023/2047 — one earlier than GIF), KwKwK
    handling, deferred-clear tolerant (entries stop at 4095 if an encoder
    runs the table out without a Clear). Returns None on malformed codes,
    truncation, or if output would exceed max_out."""
    out = bytearray()
    table: list[bytes] = [bytes((i,)) for i in range(256)] + [b"", b""]
    next_code, width = 258, 9
    acc = nbits = 0
    prev: bytes | None = None
    pos, n = 0, len(data)
    while True:
        while nbits < width:
            if pos >= n:
                # a spec-clean stream ends with EOI; tolerate a strip that
                # just runs out of bytes after complete output
                return bytes(out) if prev is not None else None
            acc = (acc << 8) | data[pos]
            pos += 1
            nbits += 8
        code = (acc >> (nbits - width)) & ((1 << width) - 1)
        nbits -= width
        if code == 256:                       # Clear
            table = table[:258]
            next_code, width = 258, 9
            prev = None
            continue
        if code == 257:                       # EOI
            return bytes(out)
        if prev is None:                      # first code after Clear
            if code > 255:
                return None
            entry = table[code]
        elif code < next_code:
            entry = table[code]
        elif code == next_code:               # KwKwK
            entry = prev + prev[:1]
        else:
            return None
        if len(out) + len(entry) > max_out:
            return None
        out += entry
        if prev is not None and next_code < 4096:
            table.append(prev + entry[:1])
            next_code += 1
            if next_code == (1 << width) - 1 and width < 12:
                width += 1                    # early change
        prev = entry
    # unreachable


def lzw_encode(data: bytes) -> bytes:
    """Spec-faithful TIFF LZW encoder (fixture/test side): greedy string
    table, width bumps synchronized with the decoder's early-change rule,
    Clear emitted when the table reaches 4094 free codes."""
    out = bytearray()
    acc = nbits = 0

    def emit(code: int, width: int):
        nonlocal acc, nbits
        acc = (acc << width) | code
        nbits += width
        while nbits >= 8:
            out.append((acc >> (nbits - 8)) & 0xFF)
            nbits -= 8

    table: dict[bytes, int] = {bytes((i,)): i for i in range(256)}
    next_code, width = 258, 9
    emit(256, width)                          # leading Clear (spec)
    w = b""
    for b in data:
        wc = w + bytes((b,))
        if wc in table:
            w = wc
            continue
        emit(table[w], width)
        table[wc] = next_code
        next_code += 1
        # the decoder's table lags the encoder's by one entry, so its
        # early-change bump (at 511/1023/2047) lands one code after ours
        # would at the same threshold — the encoder bumps at 512/1024/2048
        # (verified bit-exact against Java ImageIO's TIFF LZW codec)
        if next_code == (1 << width) and width < 12:
            width += 1
        if next_code == 4094:                 # table nearly full: reset
            emit(256, width)
            table = {bytes((i,)): i for i in range(256)}
            next_code, width = 258, 9
        w = bytes((b,))
    if w:
        emit(table[w], width)
        # the decoder adds a table entry while processing this final
        # code; if that add lands on its 511/1023/2047 early-change
        # threshold it reads EOI one bit wider — account for the
        # phantom entry exactly like libtiff's LZWPostEncode does
        next_code += 1
        if next_code == (1 << width) and width < 12:
            width += 1
    emit(257, width)                          # EOI
    if nbits:
        out.append((acc << (8 - nbits)) & 0xFF)
    return bytes(out)


def _predictor2_decode(row: bytearray, spp: int) -> None:
    """TIFF Predictor 2 (tag 317): horizontal differencing per channel —
    in-place cumulative sum mod 256 across the row."""
    for x in range(spp, len(row)):
        row[x] = (row[x] + row[x - spp]) & 0xFF


def _predictor2_encode(row: bytes, spp: int) -> bytes:
    diff = bytearray(row)
    for x in range(len(row) - 1, spp - 1, -1):
        diff[x] = (diff[x] - diff[x - spp]) & 0xFF
    return bytes(diff)


def _predictor2_decode16(row: bytearray, spp: int, bo: str) -> None:
    """Predictor 2 on 16-bit samples: the differencing is per 16-bit
    VALUE (mod 65536) in the file's byte order, not per byte — libtiff's
    horAcc16 semantics."""
    n = len(row) // 2
    vals = list(struct.unpack(bo + f"{n}H", bytes(row)))
    for x in range(spp, n):
        vals[x] = (vals[x] + vals[x - spp]) & 0xFFFF
    row[:] = struct.pack(bo + f"{n}H", *vals)


def _predictor2_encode16(row: bytes, spp: int, bo: str) -> bytes:
    n = len(row) // 2
    vals = list(struct.unpack(bo + f"{n}H", row))
    for x in range(n - 1, spp - 1, -1):
        vals[x] = (vals[x] - vals[x - spp]) & 0xFFFF
    return struct.pack(bo + f"{n}H", *vals)


def _read_values(payload: bytes, bo: str, typ: int, count: int,
                 raw: bytes) -> list[int] | None:
    """A field's values, or None for an unknown type, a field with no
    values (every field the decoder reads needs one) or values past the
    end of the payload."""
    size = _TYPE_SIZE.get(typ)
    if size is None or count == 0:
        return None
    total = size * count
    if total <= 4:
        buf = raw[:total]
    else:
        off = struct.unpack(bo + "I", raw)[0]
        if off + total > len(payload):
            return None
        buf = payload[off:off + total]
    fmt = {1: "B", 3: "H", 4: "I", 7: "B"}[typ]
    return list(struct.unpack(bo + fmt * count, buf))


def _read_chunks(payload, w, h, spp, offs, cnts, rows_per_strip, tile,
                 decode):
    """One top-down w×h image of ``spp`` bytes per pixel from its strips
    or, with ``tile`` = (tw, tl), from its tiles (§15: raster order,
    edge tiles stored at full size). Owns the region list, the coverage
    and bounds checks and the crop-and-blit. ``decode(raw, cw, rows)``
    turns one chunk's bytes, stored as cw × rows pixels, into (stride,
    data) or None; data must hold every row the image keeps, and may be
    wider or taller (JPEG pads to whole MCUs). A bytearray or None."""
    if tile:
        tw, tl = tile
        across = (w + tw - 1) // tw
        if len(offs) != across * ((h + tl - 1) // tl):
            return None
        regions = [(t % across * tw, t // across * tl, tw, tl)
                   for t in range(len(offs))]
    else:
        regions, y = [], 0
        for _ in offs:
            rows = min(rows_per_strip, h - y)
            if rows <= 0:
                return None               # more strips than rows claim
            regions.append((0, y, w, rows))
            y += rows
        if y != h:
            return None
    out = bytearray(w * h * spp)
    for (x0, y0, cw, rows), off, cnt in zip(regions, offs, cnts):
        if off + cnt > len(payload):
            return None
        chunk = decode(payload[off:off + cnt], cw, rows)
        if chunk is None:
            return None
        stride, data = chunk
        cols = min(cw, w - x0) * spp
        keep = min(rows, h - y0)
        if stride < cols or len(data) < keep * stride:
            return None
        if cols == stride == w * spp:     # whole rows: one contiguous copy
            out[y0 * cols:(y0 + keep) * cols] = data[:keep * cols]
            continue
        for yy in range(keep):
            dst = ((y0 + yy) * w + x0) * spp
            out[dst:dst + cols] = data[yy * stride:yy * stride + cols]
    return out


def split_jpeg_tables(jpeg: bytes) -> tuple[bytes, bytes]:
    """(tables_stream, abbreviated_stream): move every DQT/DHT segment
    of a standalone JPEG into a JPEGTables-style stream (SOI + tables +
    EOI), leaving an abbreviated image stream — the TIFF tag-347
    convention (fixture/test side)."""
    assert jpeg[:2] == b"\xff\xd8"
    tables = bytearray(b"\xff\xd8")
    body = bytearray(b"\xff\xd8")
    i, n = 2, len(jpeg)
    while i + 1 < n:
        assert jpeg[i] == 0xFF
        marker = jpeg[i + 1]
        if marker == 0xD9:
            body += jpeg[i:]
            break
        if marker == 0xDA:                # SOS: rest is entropy data
            body += jpeg[i:]
            break
        seg_len = struct.unpack(">H", jpeg[i + 2:i + 4])[0]
        seg = jpeg[i:i + 2 + seg_len]
        (tables if marker in (0xDB, 0xC4) else body).extend(seg)
        i += 2 + seg_len
    tables += b"\xff\xd9"
    return bytes(tables), bytes(body)


def encode_tiff_jpeg(width: int, height: int, channels: int,
                     samples: bytes, byte_order: str = "<",
                     rows_per_strip: int | None = None,
                     tile_size: tuple[int, int] | None = None,
                     use_jpeg_tables: bool = False) -> bytes:
    """Compression-7 TIFF from top-down samples (fixture/test side):
    each strip/tile is a standalone baseline JPEG from core/jpegpix.py
    (grayscale or YCbCr 4:4:4); edge tiles replicate the last row/column
    so 8-aligned constant blocks stay constant through the pad.
    ``use_jpeg_tables`` moves DQT/DHT into the JPEGTables tag (347) and
    stores abbreviated streams."""
    from docext_spark.core import jpegpix
    if channels not in (1, 3):
        raise ValueError("encode_tiff_jpeg: channels must be 1 or 3")
    if len(samples) != width * height * channels:
        raise ValueError("encode_tiff_jpeg: samples length != w*h*ch")
    bo = byte_order
    if bo not in ("<", ">"):
        raise ValueError("encode_tiff_jpeg: byte_order must be < or >")
    rps = rows_per_strip or height

    def enc(buf, cw, ch_):
        return jpegpix.encode_jpeg_sequential(
            cw, ch_, [bytes(buf[c::channels]) for c in range(channels)])

    chunks = []
    if tile_size:
        tw_, tl_ = tile_size
        if tw_ <= 0 or tl_ <= 0 or tw_ % 16 or tl_ % 16:
            raise ValueError("encode_tiff_jpeg: tile dims must be "
                             "positive multiples of 16")
        ta = (width + tw_ - 1) // tw_
        td = (height + tl_ - 1) // tl_
        for ty in range(td):
            for tx in range(ta):
                tile = bytearray(tw_ * tl_ * channels)
                for yy in range(tl_):
                    sy = min(ty * tl_ + yy, height - 1)
                    for xx in range(tw_):
                        sx = min(tx * tw_ + xx, width - 1)
                        src = (sy * width + sx) * channels
                        dst = (yy * tw_ + xx) * channels
                        tile[dst:dst + channels] = \
                            samples[src:src + channels]
                chunks.append(enc(tile, tw_, tl_))
    else:
        for y0 in range(0, height, rps):
            rows = min(rps, height - y0)
            chunks.append(enc(samples[y0 * width * channels:
                                      (y0 + rows) * width * channels],
                              width, rows))

    tables = b""
    if use_jpeg_tables:
        tables = split_jpeg_tables(chunks[0])[0]
        chunks = [split_jpeg_tables(c)[1] for c in chunks]

    return _assemble_tiff(bo, chunks, width, height, [8] * channels, 7,
                          6 if channels == 3 else 1, rps, tile=tile_size,
                          tables=tables)


def decode_tiff(payload: bytes | None):
    """(width, height, channels, samples top-down, black=0) or None."""
    if not payload or len(payload) < 8:
        return None
    if payload[:4] == b"II*\x00":
        bo = "<"
    elif payload[:4] == b"MM\x00*":
        bo = ">"
    else:
        return None
    ifd_off = struct.unpack(bo + "I", payload[4:8])[0]
    if ifd_off + 2 > len(payload):
        return None
    n_entries = struct.unpack(bo + "H", payload[ifd_off:ifd_off + 2])[0]
    if ifd_off + 2 + 12 * n_entries > len(payload):
        return None

    tags: dict[int, list[int]] = {}
    for k in range(n_entries):
        e = ifd_off + 2 + 12 * k
        tag, typ, count = struct.unpack(bo + "HHI", payload[e:e + 8])
        if tag in (256, 257, 258, 259, 262, 273, 277, 278, 279, 284, 317,
                   322, 323, 324, 325, 347):
            vals = _read_values(payload, bo, typ, count, payload[e + 8:e + 12])
            if vals is None:
                return None
            tags[tag] = vals

    try:
        w = tags[256][0]
        h = tags[257][0]
    except KeyError:
        return None
    tiled = any(t in tags for t in (322, 323, 324, 325))
    if tiled:
        if 273 in tags or 279 in tags:
            return None                   # §15: strip+tile tags exclusive
        try:
            tw, tl = tags[322][0], tags[323][0]
            chunk_offs, chunk_counts = tags[324], tags[325]
        except KeyError:
            return None
        if tw <= 0 or tl <= 0 or tw % 16 or tl % 16:
            return None                   # §15: tile dims multiples of 16
    else:
        try:
            chunk_offs, chunk_counts = tags[273], tags[279]
        except KeyError:
            return None
    spp = tags.get(277, [1])[0]
    bits = tags.get(258, [1])
    compression = tags.get(259, [1])[0]
    photometric = tags.get(262, [1])[0]
    rows_per_strip = tags.get(278, [h])[0] or h
    planar = tags.get(284, [1])[0]
    predictor = tags.get(317, [1])[0]

    if w <= 0 or h <= 0 or w * h > MAX_PIXELS:
        return None                       # decode-bomb guard (see above)
    if tiled and ((w + tw - 1) // tw) * tw * ((h + tl - 1) // tl) * tl \
            > 4 * MAX_PIXELS:
        return None                       # padded-tile allocation bound
    if spp not in (1, 3) or planar not in (1, 2) \
            or photometric not in (0, 1, 2, 6) \
            or len(chunk_offs) != len(chunk_counts):
        return None
    if bits == [1]:
        # BILEVEL: uncompressed bit-packed rows (MSB first), CCITT RLE
        # (Modified Huffman, T.4, compression 2) or Group 4 MMR (T.6,
        # compression 4) — strips only, one sample plane, fax state
        # fresh per strip; stored bit 1 scales to 255
        if spp != 1 or planar != 1 or photometric not in (0, 1) \
                or compression not in (1, 2, 4) or predictor != 1 \
                or tiled:
            return None
        from docext_spark.core import ccittfax

        def decode(raw, cw, rows):
            if compression == 1:
                row_bytes = (cw + 7) // 8
                if len(raw) != rows * row_bytes:
                    return None
                ink = [(raw[y * row_bytes + (x >> 3)] >> (7 - (x & 7))) & 1
                       for y in range(rows) for x in range(cw)]
            else:
                ink = (ccittfax.rle_decode if compression == 2
                       else ccittfax.g4_decode)(raw, cw, rows)
            return None if ink is None else (cw, bytes(255 * b for b in ink))
    elif compression == 7:
        # new-style JPEG-in-TIFF (TIFF Tech Note 2): every strip/tile is
        # a standalone JPEG stream; abbreviated streams pull their
        # DQT/DHT segments from the JPEGTables tag (347), spliced in
        # after each chunk's SOI
        tables = tags.get(347, [])
        if any(b != 8 for b in bits) or planar != 1 \
                or photometric not in (1, 6) or predictor != 1 \
                or any(v > 255 for v in tables):
            return None                   # JPEGTables hold bytes
        tables = bytes(tables)
        if tables and (len(tables) < 4 or tables[:2] != b"\xff\xd8"
                       or tables[-2:] != b"\xff\xd9"):
            return None
        from docext_spark.core import jpegpix

        def decode(raw, cw, rows):
            if raw[:2] != b"\xff\xd8":
                return None
            d = jpegpix.decode_jpeg(b"\xff\xd8" + tables[2:-2] + raw[2:])
            return None if d is None or d[2] != spp else (d[0] * spp, d[3])
    else:
        if photometric == 6:
            return None                   # raw YCbCr samples: only as JPEG
        if all(b == 8 for b in bits) and len(bits) in (1, spp):
            sb = 1                        # bytes per stored sample
        elif all(b == 16 for b in bits) and len(bits) in (1, spp):
            sb = 2                        # 16-bit: decode high byte
        else:
            return None
        if compression not in (1, 5, 8, 32946, 32773):
            return None
        if predictor not in (1, 2) or (predictor == 2 and compression == 1):
            return None                   # predictor only with compression
        hi = 1 if bo == "<" else 0        # offset of the high sample byte

        def decode(raw, cw, rows, ps=spp):
            """Decompress one chunk of ``ps`` samples per pixel (bounded:
            a tiny stream claiming huge output is cut at expect+1 and
            rejected), verify its exact length, undo the per-row
            predictor (byte-wise for 8-bit, per-16-bit-value for 16-bit)
            and downscale 16-bit samples to their high byte."""
            row_bytes = cw * ps * sb
            expect = rows * row_bytes
            if compression == 32773:
                raw = packbits_decode(raw, expect)
            elif compression == 5:
                raw = lzw_decode(raw, expect)
            elif compression in (8, 32946):
                try:
                    raw = zlib.decompressobj().decompress(raw, expect + 1)
                except zlib.error:
                    return None
            if raw is None or len(raw) != expect:
                return None
            if predictor == 2:            # per-row horizontal differencing
                dec = bytearray(raw)
                for y0 in range(0, expect, row_bytes):
                    row = dec[y0:y0 + row_bytes]
                    if sb == 1:
                        _predictor2_decode(row, ps)
                    else:
                        _predictor2_decode16(row, ps, bo)
                    dec[y0:y0 + row_bytes] = row
                raw = bytes(dec)
            return cw * ps, raw[hi::2] if sb == 2 else raw

    tile = (tw, tl) if tiled else None
    if planar == 2 and spp > 1:
        # §Planar Configuration: StripsPerImage strips (or TilesPerImage
        # tiles) per sample plane, all plane-0 chunks first; each plane
        # is a 1-sample image (the predictor differences within the
        # plane, stride 1)
        if len(chunk_offs) % spp:
            return None
        per = len(chunk_offs) // spp
        out = bytearray(w * h * spp)
        for ci in range(spp):
            plane = _read_chunks(
                payload, w, h, 1, chunk_offs[ci * per:(ci + 1) * per],
                chunk_counts[ci * per:(ci + 1) * per], rows_per_strip, tile,
                lambda raw, cw, rows: decode(raw, cw, rows, 1))
            if plane is None:
                return None
            out[ci::spp] = plane
    else:
        out = _read_chunks(payload, w, h, spp, chunk_offs, chunk_counts,
                           rows_per_strip, tile, decode)
        if out is None:
            return None
    if photometric == 0:                  # WhiteIsZero → normalize black=0
        out = bytearray(255 - b for b in out)
    return (w, h, spp, bytes(out))


def encode_tiff(width: int, height: int, channels: int, samples: bytes,
                byte_order: str = "<", compression: int = 1,
                rows_per_strip: int | None = None,
                photometric: int | None = None,
                predictor: int = 1, planar: int = 1,
                tile_size: tuple[int, int] | None = None,
                bits: int = 8) -> bytes:
    """Valid baseline TIFF from top-down samples (fixture/test side):
    header + pixel strips + trailing IFD, multi-strip when
    ``rows_per_strip`` < height, optional PackBits (32773) or LZW (5),
    optional horizontal-differencing predictor 2. ``planar=2`` stores
    each sample plane in its own strip sequence (all plane-0 strips
    first) — same pixels, different layout. ``tile_size=(tw, tl)``
    (multiples of 16, §15) stores TILES instead of strips: raster order,
    edge tiles zero-padded to full size, tags 322-325. ``bits=1`` writes
    a BILEVEL image (samples are stored-sample bytes, 0 or 255; >=128 =
    stored 1): compression 1 = bit-packed rows, 2 = CCITT RLE (T.4 MH),
    4 = Group 4 MMR (T.6); photometric defaults to 0 (fax WhiteIsZero)."""
    if bits == 1:
        return _encode_bilevel(width, height, channels, samples,
                               byte_order, compression, rows_per_strip,
                               photometric, predictor, planar, tile_size)
    if bits not in (8, 16):
        raise ValueError("encode_tiff: bits must be 1, 8 or 16")
    if channels not in (1, 3):
        raise ValueError("encode_tiff: channels must be 1 or 3")
    if len(samples) != width * height * channels:
        raise ValueError("encode_tiff: samples length != w*h*ch")
    if compression not in (1, 5, 8, 32773):
        raise ValueError("encode_tiff: compression must be 1, 5, 8 or "
                         "32773")
    if predictor not in (1, 2) or (predictor == 2 and compression == 1):
        raise ValueError("encode_tiff: predictor 2 needs compression")
    bo = byte_order
    if bo not in ("<", ">"):
        raise ValueError("encode_tiff: byte_order must be '<' or '>'")
    if planar not in (1, 2):
        raise ValueError("encode_tiff: planar must be 1 or 2")
    if tile_size is not None:
        tw_, tl_ = tile_size
        if tw_ <= 0 or tl_ <= 0 or tw_ % 16 or tl_ % 16:
            raise ValueError("encode_tiff: tile dims must be positive "
                             "multiples of 16 (TIFF 6.0 §15)")
    rps = rows_per_strip or height
    if photometric is None:
        photometric = 2 if channels == 3 else 1

    sb = 2 if bits == 16 else 1

    def widen(buf: bytes) -> bytes:
        # 16-bit fixtures store v*257 (high byte == low byte == v, the
        # same sample-scaling convention as pngpix), so the high-byte
        # decode recovers the input exactly
        if sb == 1:
            return buf
        return struct.pack(bo + f"{len(buf)}H", *(v * 257 for v in buf))

    def pack_chunk(raw: bytes, row_bytes: int, pred_spp: int) -> bytes:
        if predictor == 2:
            pred = (_predictor2_encode if sb == 1
                    else lambda r, ps: _predictor2_encode16(r, ps, bo))
            raw = b"".join(
                pred(raw[r:r + row_bytes], pred_spp)
                for r in range(0, len(raw), row_bytes))
        if compression == 32773:
            return packbits_encode(raw)
        if compression == 5:
            return lzw_encode(raw)
        if compression == 8:
            return zlib.compress(raw, 6)
        return raw

    def strip_up(buf: bytes, row_px: int, pred_spp: int) -> list[bytes]:
        row_bytes = row_px * sb
        return [pack_chunk(buf[y0 * row_bytes:
                               (y0 + min(rps, height - y0)) * row_bytes],
                           row_bytes, pred_spp)
                for y0 in range(0, height, rps)]

    def tile_up(buf: bytes, pred_spp: int) -> list[bytes]:
        ta, td = (width + tw_ - 1) // tw_, (height + tl_ - 1) // tl_
        img_row = width * pred_spp * sb
        tile_row = tw_ * pred_spp * sb
        out = []
        for ty in range(td):
            for tx in range(ta):
                tile = bytearray(tile_row * tl_)     # zero edge padding
                cols = min(tw_, width - tx * tw_) * pred_spp * sb
                for yy in range(min(tl_, height - ty * tl_)):
                    src = (ty * tl_ + yy) * img_row + tx * tile_row
                    tile[yy * tile_row:yy * tile_row + cols] = \
                        buf[src:src + cols]
                out.append(pack_chunk(bytes(tile), tile_row, pred_spp))
        return out

    chunk_up = ((lambda buf, rp, ps: tile_up(buf, ps)) if tile_size
                else strip_up)
    if planar == 2 and channels > 1:
        strips = []
        for ci in range(channels):
            strips += chunk_up(widen(samples[ci::channels]), width, 1)
    else:
        strips = chunk_up(widen(samples), width * channels, channels)

    return _assemble_tiff(bo, strips, width, height, [bits] * channels,
                          compression, photometric, rps, planar, predictor,
                          tile_size)


def _assemble_tiff(bo: str, strips: list[bytes], width: int, height: int,
                   bits: list[int], compression: int, photometric: int,
                   rps: int, planar: int = 1, predictor: int = 1,
                   tile: tuple[int, int] | None = None,
                   tables: bytes = b"") -> bytes:
    """header + chunk data + trailing IFD (count + entries + next=0) +
    overflow value blobs. The one IFD field list of every encoder here,
    in ascending tag order: ``bits`` per sample, strips (RowsPerStrip
    ``rps``) or ``tile`` = (tw, tl), Predictor only when 2 and
    JPEGTables only when ``tables`` is set."""
    head = (b"II*\x00" if bo == "<" else b"MM\x00*")
    pos = 8
    offs, cnts = [], []
    for s in strips:
        offs.append(pos)
        cnts.append(len(s))
        pos += len(s)
    ifd_off = pos

    def entry(tag, typ, vals, extra_off=None):
        count = len(vals)
        size = _TYPE_SIZE[typ] * count
        fmt = {1: "B", 3: "H", 4: "I", 7: "B"}[typ]
        if size <= 4:
            raw = struct.pack(bo + fmt * count, *vals)
            raw += b"\x00" * (4 - size)
            return struct.pack(bo + "HHI", tag, typ, count) + raw, b""
        blob = struct.pack(bo + fmt * count, *vals)
        return (struct.pack(bo + "HHII", tag, typ, count, extra_off), blob)

    fields = [(256, 4, [width]), (257, 4, [height]), (258, 3, bits),
              (259, 3, [compression]), (262, 3, [photometric])]
    if not tile:
        fields.append((273, 4, offs))
    fields.append((277, 3, [len(bits)]))
    if not tile:
        fields += [(278, 4, [rps]), (279, 4, cnts)]
    fields.append((284, 3, [planar]))
    if predictor == 2:
        fields.append((317, 3, [2]))
    if tile:
        fields += [(322, 3, [tile[0]]), (323, 3, [tile[1]]),
                   (324, 4, offs), (325, 4, cnts)]
    if tables:
        fields.append((347, 7, list(tables)))
    n = len(fields)
    blob_off = ifd_off + 2 + 12 * n + 4
    entries, blobs = b"", b""
    for tag, typ, vals in fields:
        e, blob = entry(tag, typ, vals, blob_off + len(blobs))
        entries += e
        blobs += blob
    ifd = struct.pack(bo + "H", n) + entries + struct.pack(bo + "I", 0)
    return (head + struct.pack(bo + "I", ifd_off)
            + b"".join(strips) + ifd + blobs)


def _encode_bilevel(width, height, channels, samples, byte_order,
                    compression, rows_per_strip, photometric, predictor,
                    planar, tile_size) -> bytes:
    """bits=1 arm of encode_tiff: bit-packed (1), CCITT RLE (2), or
    Group 4 (4) strips; fax state fresh per strip."""
    from docext_spark.core import ccittfax
    if channels != 1:
        raise ValueError("encode_tiff: bilevel requires channels=1")
    if len(samples) != width * height:
        raise ValueError("encode_tiff: samples length != w*h")
    if compression not in (1, 2, 4):
        raise ValueError("encode_tiff: bilevel compression must be "
                         "1, 2 or 4")
    if predictor != 1 or planar != 1 or tile_size is not None:
        raise ValueError("encode_tiff: bilevel supports strips only, "
                         "no predictor")
    bo = byte_order
    if bo not in ("<", ">"):
        raise ValueError("encode_tiff: byte_order must be '<' or '>'")
    if photometric is None:
        photometric = 0                   # fax default: WhiteIsZero
    if photometric not in (0, 1):
        raise ValueError("encode_tiff: bilevel photometric must be 0/1")
    rps = rows_per_strip or height
    ink = bytes(1 if b >= 128 else 0 for b in samples)

    strips = []
    for y0 in range(0, height, rps):
        rows = min(rps, height - y0)
        part = ink[y0 * width:(y0 + rows) * width]
        if compression == 1:
            row_bytes = (width + 7) // 8
            packed = bytearray(rows * row_bytes)
            for y in range(rows):
                for x in range(width):
                    if part[y * width + x]:
                        packed[y * row_bytes + (x >> 3)] |= \
                            0x80 >> (x & 7)
            strips.append(bytes(packed))
        elif compression == 2:
            strips.append(ccittfax.rle_encode(part, width, rows))
        else:
            strips.append(ccittfax.g4_encode(part, width, rows))

    return _assemble_tiff(bo, strips, width, height, [1], compression,
                          photometric, rps)
