"""Exact-result pins for the GIF and TIFF decoders on hostile input.

The decoders run inside Spark tasks on untrusted payloads, so they must
return a result or None for every input and never raise. This file
builds seeded fixtures that cover the decode paths (GIF: static,
interlaced, local colour table, extension blocks, animation with every
disposal; TIFF: 8/16-bit, compressions 1/5/8/32773, the predictor,
planar 2, strips and tiles, bilevel 1/2/4 and JPEG with and without
JPEGTables), then derives hostile variants from them: truncations,
seeded byte flips and inserts (GIF) and flips inside the TIFF IFD and
its value blobs. Each reader's results fold into one sha256 of their
repr()s, so a refactor that changes any result on any input fails.
"""
import hashlib
import random
import struct

import pytest

from docext_spark.core import gifpix, tiffpix


def _palette(rng, n):
    return [(rng.randrange(256), rng.randrange(256), rng.randrange(256))
            for _ in range(n)]


def _local_table(gif):
    """The single-frame ``gif`` with its global colour table moved into
    the image descriptor as a local one (the encoders never write one)."""
    bits = gif[10] & 0x07
    size = 3 * (2 << bits)
    table = gif[13:13 + size]
    rest = bytearray(gif[13 + size:])
    rest[9] |= 0x80 | bits
    return gif[:10] + bytes([0, gif[11], gif[12]]) + bytes(rest[:10]) \
        + table + bytes(rest[10:])


def _with_extensions(gif):
    """``gif`` with a comment extension, an empty application block and
    an unknown-label extension in front of its first image."""
    pos = gif.index(0x2C, 13 + 3 * (2 << (gif[10] & 0x07)))
    ext = (b"\x21\xfe\x05hello\x03abc\x00" + b"\x21\xff\x00"
           + b"\x21\x01\x02xy\x00")
    return gif[:pos] + ext + gif[pos:]


def _gif_fixtures():
    rng = random.Random(14)
    out = []
    for i in range(40):
        w, h = rng.randint(1, 12), rng.randint(1, 12)
        npal = (1, 2, 3, 4, 5, 16, 17, 256)[i % 8]
        pal = _palette(rng, npal)
        idx = [rng.randrange(npal) for _ in range(w * h)]
        gif = gifpix.encode_gif(w, h, pal, idx, interlace=bool(i % 3 == 1))
        out.append(gif)
        if i % 4 == 0:
            out.append(_local_table(gif))
        if i % 4 == 1:
            out.append(_with_extensions(gif))
    for i in range(24):
        w, h = rng.randint(1, 10), rng.randint(1, 10)
        npal = (2, 4, 16, 256)[i % 4]
        pal = _palette(rng, npal)
        frames = []
        for k in range(1 + i % 4):
            fw, fh = rng.randint(1, w), rng.randint(1, h)
            frames.append(dict(
                left=rng.randint(0, w - fw), top=rng.randint(0, h - fh),
                w=fw, h=fh,
                indices=[rng.randrange(npal) for _ in range(fw * fh)],
                delay_ms=rng.choice((0, 10, 70)), disposal=(i + k) % 4,
                transparent=None if i % 2 else rng.randrange(npal)))
        out.append(gifpix.encode_gif_animated(
            w, h, pal, frames, loop=(None, 0, 3)[i % 3],
            bg_idx=rng.randrange(256)))
    return out


def _gif_inputs():
    """Fixtures, every truncation, seeded flips and inserts, and each
    LZW code size 0-12 on one fixture."""
    rng = random.Random(1400)
    fixtures = _gif_fixtures()
    inputs = [None, b"", b"GIF89a", b"GIF87a" + bytes(7)]
    for gif in fixtures:
        inputs.append(gif)
        inputs += [gif[:cut] for cut in range(len(gif))]
        for _ in range(12):
            b = bytearray(gif)
            b[rng.randrange(len(b))] ^= rng.randrange(1, 256)
            inputs.append(bytes(b))
        for _ in range(4):
            b = bytearray(gif)
            b.insert(rng.randrange(len(b)), rng.choice((0x00, 0x21, 0x2C,
                                                        0x3B, 0xFF)))
            inputs.append(bytes(b))
    pos = fixtures[0].index(0x2C, 13) + 10
    for size in range(13):
        b = bytearray(fixtures[0])
        b[pos] = size
        inputs.append(bytes(b))
    return inputs


def _samples(rng, n, kind):
    if kind == 0:
        return bytes(rng.randrange(256) for _ in range(n))
    return bytes((i * 7 // 3) % 256 for i in range(n))


def _tiff_fixtures():
    rng = random.Random(1401)
    out = []
    layouts = ({}, {"rows_per_strip": 3}, {"tile_size": (16, 16)})
    for i in range(96):
        bits = (8, 16)[i % 2]
        comp = (1, 5, 8, 32773)[(i // 2) % 4]
        ch = (1, 3)[(i // 8) % 2]
        kw = dict(layouts[i % 3], byte_order="<>"[(i // 3) % 2],
                  compression=comp, bits=bits,
                  predictor=2 if comp != 1 and i % 5 < 2 else 1,
                  planar=2 if ch == 3 and i % 7 < 3 else 1)
        if ch == 1 and i % 6 == 0:
            kw["photometric"] = 0
        w, h = rng.randint(1, 21), rng.randint(1, 19)
        out.append(tiffpix.encode_tiff(w, h, ch, _samples(rng, w * h * ch,
                                                          i % 2), **kw))
    for comp in (1, 2, 4):
        for photometric in (0, 1):
            w, h = rng.randint(1, 21), rng.randint(1, 13)
            px = bytes(rng.choice((0, 255)) for _ in range(w * h))
            out.append(tiffpix.encode_tiff(
                w, h, 1, px, compression=comp, bits=1,
                photometric=photometric, rows_per_strip=(None, 4)[comp % 2],
                byte_order="<>"[photometric]))
    for i in range(16):
        ch = (1, 3)[i % 2]
        w, h = rng.randint(1, 20), rng.randint(1, 20)
        px = bytes(((x // 8 + y // 8 + i) % 4) * 64
                   for y in range(h) for x in range(w) for _ in range(ch))
        out.append(tiffpix.encode_tiff_jpeg(
            w, h, ch, px, byte_order="<>"[i % 2],
            rows_per_strip=(None, 8)[(i // 2) % 2] if i % 8 < 4 else None,
            tile_size=(16, 16) if i % 8 >= 4 else None,
            use_jpeg_tables=bool(i % 3 == 0)))
    return out


def _tiff_inputs():
    """Fixtures, truncations, seeded flips anywhere, flips inside the
    IFD and its value blobs (tags, types, counts, offsets, dims), every
    field re-typed at its byte length and, for JPEG chunks, frame dims
    a few samples off the chunk's."""
    rng = random.Random(1402)
    inputs = [None, b"", b"II*\x00", b"MM\x00*" + bytes(8)]
    for tif in _tiff_fixtures():
        bo = "<" if tif[:2] == b"II" else ">"
        ifd = struct.unpack(bo + "I", tif[4:8])[0]
        inputs.append(tif)
        inputs += [tif[:cut] for cut in sorted(
            {0, 4, 8, 9, ifd, ifd + 2, ifd + 13, len(tif) - 1}
            | {rng.randrange(len(tif)) for _ in range(4)})]
        for _ in range(24):
            b = bytearray(tif)
            b[rng.randrange(len(b))] ^= rng.randrange(1, 256)
            inputs.append(bytes(b))
        for _ in range(64):
            b = bytearray(tif)
            b[rng.randrange(ifd, len(b))] = rng.choice(
                (0, 1, 2, 3, 7, 8, 16, 0x40, 0x80, 0xFF,
                 rng.randrange(256)))
            inputs.append(bytes(b))
        size = {1: 1, 3: 2, 4: 4, 7: 1}
        for e in range(ifd + 2, ifd + 2 + 12 * struct.unpack(
                bo + "H", tif[ifd:ifd + 2])[0], 12):
            tag, typ, count = struct.unpack(bo + "HHI", tif[e:e + 8])
            for new in (1, 3, 4):       # re-typed field, same byte length
                if new != typ and count * size[typ] // size[new]:
                    b = bytearray(tif)
                    struct.pack_into(bo + "HI", b, e + 2, new,
                                     count * size[typ] // size[new])
                    inputs.append(bytes(b))
        sof = tif.find(b"\xff\xc0")
        while sof > 0:                  # JPEG chunk dims off by a little
            for at, delta in ((6, -8), (6, -1), (6, 1), (8, -8), (8, -1),
                              (8, 1)):
                b = bytearray(tif)
                b[sof + at] = (b[sof + at] + delta) % 256
                inputs.append(bytes(b))
            sof = tif.find(b"\xff\xc0", sof + 2)
    return inputs


def _fold(results):
    acc = hashlib.sha256()
    for r in results:
        acc.update(hashlib.sha256(repr(r).encode()).digest())
    return acc.hexdigest()


def _run(reader, inputs):
    results = []
    for i, payload in enumerate(inputs):
        try:
            results.append(reader(payload))
        except Exception as e:          # noqa: BLE001 — any raise fails
            pytest.fail(f"{reader} raised on input {i}: {e!r}")
    return results


GIF_READERS = {
    "decode_gif": gifpix.decode_gif,
    "gif_animation_info": gifpix.gif_animation_info,
    "decode_gif_frames": gifpix.decode_gif_frames,
    "decode_gif_frames_max2":
        lambda p: gifpix.decode_gif_frames(p, max_frames=2),
}

EXPECTED = {
    "decode_gif":
        "d20d0dea6790234cfb22cf43f34d9f11285e56feb007529e3a5e8adb16507f9e",
    "gif_animation_info":
        "05dc52b8abab81d353bc00e1b7dd0b3aac07ad6885fd00d2799d18532792a5ca",
    "decode_gif_frames":
        "dc08fc4a10c323fac01758bed12ef6102d234a989ffd3cdaf6dc2b8f84601f7b",
    "decode_gif_frames_max2":
        "2eff15fc80c623ad1fa5d03811f9c323b032e6c71938a9ffa08275f6c46e2b90",
    "decode_tiff":
        "45653307dee4e0dfb4092f329987fb7df82dbb8c0f04bfbb8eb9c53935f139f1",
}


def test_gif_readers_pinned():
    inputs = _gif_inputs()
    got = {name: _fold(_run(reader, inputs))
           for name, reader in GIF_READERS.items()}
    assert got == {k: EXPECTED[k] for k in GIF_READERS}, got


def test_tiff_reader_pinned():
    digest = _fold(_run(tiffpix.decode_tiff, _tiff_inputs()))
    assert digest == EXPECTED["decode_tiff"], digest
