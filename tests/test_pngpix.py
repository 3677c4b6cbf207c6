"""Real PNG pixel decode (core/pngpix.py): encode↔decode roundtrips over
every filter type and color type, defensive edges, and the Spark resample
operator over natively-constructed payloads."""
from __future__ import annotations

import zlib

import pytest
from pyspark.sql import functions as F

from docext_spark.core import imagehdr, pngpix


def _pattern(w, h, ch, seed=0):
    return bytes((x * 7 + y * 13 + c * 29 + seed * 3) % 256
                 for y in range(h) for x in range(w) for c in range(ch))


@pytest.mark.parametrize("ch", [1, 2, 3, 4])
def test_roundtrip_all_color_types(ch):
    w, h = 9, 6
    px = _pattern(w, h, ch)
    assert pngpix.decode_png(pngpix.encode_png(w, h, ch, px)) == (w, h, ch, px)


@pytest.mark.parametrize("ftype", [0, 1, 2, 3, 4])
def test_roundtrip_each_filter(ftype):
    """Every unfilter branch (None/Sub/Up/Average/Paeth) against a real
    zlib-compressed, real-CRC file."""
    w, h, ch = 8, 5, 3
    px = _pattern(w, h, ch, seed=ftype)
    b = pngpix.encode_png(w, h, ch, px, lambda y: ftype)
    assert pngpix.decode_png(b) == (w, h, ch, px)


def test_roundtrip_mixed_filters_per_row():
    w, h, ch = 7, 10, 4
    px = _pattern(w, h, ch, seed=9)
    b = pngpix.encode_png(w, h, ch, px, lambda y: y % 5)
    assert pngpix.decode_png(b) == (w, h, ch, px)


def test_defensive_returns_none():
    w, h, ch = 6, 4, 3
    good = pngpix.encode_png(w, h, ch, _pattern(w, h, ch))
    assert pngpix.decode_png(None) is None
    assert pngpix.decode_png(b"") is None
    assert pngpix.decode_png(b"garbage") is None
    # header-only PNG (no IDAT)
    assert pngpix.decode_png(imagehdr.make_png(10, 10)) is None
    # corrupt IDAT payload (adler32 verified by stdlib zlib)
    bad = bytearray(good)
    bad[50] ^= 0xFF
    assert pngpix.decode_png(bytes(bad)) is None
    # truncated mid-chunk
    assert pngpix.decode_png(good[:30]) is None
    # 16-bit depth rejected (out of scope)
    deep = bytearray(good)
    deep[24] = 16  # IHDR bit-depth byte
    assert pngpix.decode_png(bytes(deep)) is None


def test_resize_nearest_floor_map():
    w, h, ch = 4, 4, 1
    px = bytes(range(16))
    out = pngpix.resize_nearest(w, h, ch, px, 2, 2)
    # src = (dst * 4) // 2 -> rows/cols 0 and 2
    assert list(out) == [0, 2, 8, 10]
    # identity when dims unchanged
    assert pngpix.resize_nearest(w, h, ch, px, 4, 4) == px


def test_bounded_dims_rule():
    assert pngpix.bounded_dims(2000, 1000, 2048) == (2000, 1000)
    assert pngpix.bounded_dims(4096, 1000, 2048) == (2048, 500)
    assert pngpix.bounded_dims(1000, 4000, 2048) == (512, 2048)
    assert pngpix.bounded_dims(8, 8, 8) == (8, 8)  # boundary: no resize
    # extreme aspect ratio: the short side clamps to 1, never 0 (a 0 dim
    # made the resample buffer empty and crashed the mean — review r4)
    assert pngpix.bounded_dims(1, 4096, 2048) == (1, 2048)
    assert pngpix.bounded_dims(4096, 1, 2048) == (2048, 1)


def test_resample_extreme_aspect_ratio_no_crash(spark):
    """A valid 1×64 strip bounded to max_size 8 must resample to 1×8, not
    crash on an empty buffer (review r4: ZeroDivisionError in the 'never
    throws' decode path)."""
    import pandas as pd
    from docext_spark.operators.multimodal import resample_images
    px = _pattern(1, 64, 3)
    media = spark.createDataFrame(
        pd.DataFrame([(0, pngpix.encode_png(1, 64, 3, px))],
                     columns=["media_id", "payload"]),
        "media_id long, payload binary")
    r = resample_images(media, max_size=8).collect()[0]
    assert (r["new_width"], r["new_height"]) == (1, 8)
    out = pngpix.resize_nearest(1, 64, 3, px, 1, 8)
    assert r["px_checksum"] == sum(b * (i + 1) for i, b in enumerate(out))


def test_native_fixture_matches_python_encoder(spark):
    """The zero-Python payload constructor (stored-block zlib + native
    adler32 + Sub/Up filters) must decode to the SAME pixels as a real
    zlib-compressed file of the same pattern."""
    from docext_spark.operators.multimodal import png_rgb_fixture_hex
    d = spark.range(5).select(
        F.col("id"),
        F.unhex(png_rgb_fixture_hex(
            F.col("id"), (F.lit(3) + F.col("id") % 14).cast("int"),
            (F.lit(2) + (F.col("id") * 7) % 13).cast("int"))).alias("p"))
    for r in d.collect():
        seed = r["id"]
        w, h = 3 + seed % 14, 2 + (seed * 7) % 13
        expect = _pattern(w, h, 3, seed)
        assert pngpix.decode_png(bytes(r["p"])) == (w, h, 3, expect), seed
        # and the stdlib-zlib adler32 agrees with the native arithmetic
        zlib.decompress  # (decode_png already raises-free verifies it)


def test_resample_images_operator(spark):
    from docext_spark.operators.multimodal import (extract_features,
                                                   png_rgb_fixture_hex,
                                                   resample_images)
    media = spark.range(8).select(
        F.col("id").alias("media_id"), F.lit("image").alias("kind"),
        F.unhex(png_rgb_fixture_hex(
            F.col("id"), (F.lit(3) + F.col("id") % 14).cast("int"),
            (F.lit(2) + (F.col("id") * 7) % 13).cast("int"))).alias("payload"))
    got = {r["media_id"]: r for r in
           resample_images(media, max_size=8).collect()}
    for seed in range(8):
        w, h = 3 + seed % 14, 2 + (seed * 7) % 13
        nw, nh = pngpix.bounded_dims(w, h, 8)
        px = _pattern(w, h, 3, seed)
        out = pngpix.resize_nearest(w, h, 3, px, nw, nh)
        r = got[seed]
        assert (r["width"], r["height"], r["channels"]) == (w, h, 3)
        assert (r["new_width"], r["new_height"]) == (nw, nh)
        assert r["px_checksum"] == sum(b * (i + 1) for i, b in enumerate(out))
        assert abs(r["px_mean"] - sum(out) / len(out)) < 1e-9
        assert r["format"] == "png"
    # feature comes from decoded pixels, not payload bytes
    feats = {r["media_id"]: r for r in extract_features(media).collect()}
    assert all(f["feature_src"] == "pixels" for f in feats.values())
    px0 = _pattern(3, 2, 3, 0)
    want_f0 = round(sum(1 for b in px0 if b < 32) / len(px0), 6)
    assert abs(feats[0]["feature"][0] - want_f0) < 1e-6


def test_resample_images_undecodable_yields_nulls(spark):
    """Corrupt/foreign payloads produce null decode fields, never a task
    failure, and keep the byte-histogram fallback in both operators."""
    import pandas as pd
    from docext_spark.operators.multimodal import (extract_features,
                                                   resample_images)
    rows = [(0, "image", imagehdr.make_jpeg(40, 30)),   # jpeg: header-only
            (1, "image", b"not an image at all"),
            (2, "image", imagehdr.make_png(10, 10))]    # png, no IDAT
    media = spark.createDataFrame(
        pd.DataFrame(rows, columns=["media_id", "kind", "payload"]),
        "media_id long, kind string, payload binary")
    got = {r["media_id"]: r for r in resample_images(media).collect()}
    assert got[0]["format"] == "jpeg" and got[0]["px_checksum"] is None
    assert got[1]["format"] is None and got[1]["new_width"] is None
    assert got[2]["format"] == "png" and got[2]["px_checksum"] is None
    for mid, _, payload in rows:
        assert got[mid]["feature_src"] == "bytes"
        assert got[mid]["feature"] == pytest.approx(
            [sum(b >> 5 == k for b in payload) / len(payload)
             for k in range(8)], abs=1e-6)
    feats = {r["media_id"]: r["feature_src"]
             for r in extract_features(media).collect()}
    assert feats == {0: "bytes", 1: "bytes", 2: "bytes"}


def test_extract_features_png_dims_past_int32(spark):
    """A flipped IHDR byte can claim a width of 2**31 or more: that is not
    a PNG (spec 7.1), so the row keeps null dims and the task survives."""
    import pandas as pd
    from docext_spark.operators.multimodal import extract_features
    good = pngpix.encode_png(4, 3, 3, _pattern(4, 3, 3))
    bad = bytearray(good)
    bad[16] = 0xEE
    media = spark.createDataFrame(
        pd.DataFrame([(0, "image", good), (1, "image", bytes(bad))],
                     columns=["media_id", "kind", "payload"]),
        "media_id long, kind string, payload binary")
    got = {r["media_id"]: r for r in extract_features(media).collect()}
    assert (got[0]["width"], got[0]["height"]) == (4, 3)
    assert got[1]["width"] is None and got[1]["height"] is None
    assert got[1]["feature_src"] == "bytes"


def test_decode_bomb_guard():
    """Review r4b: IHDR dims are attacker-controlled and the zlib stream
    can be a decompression bomb — both must be bounded before allocation."""
    import struct
    import zlib
    px = _pattern(6, 4, 3)
    good = pngpix.encode_png(6, 4, 3, px)
    # claim 60000x60000 in IHDR (offsets 16/20)
    bomb = good[:16] + struct.pack(">II", 60000, 60000) + good[24:]
    assert pngpix.decode_png(bomb) is None
    # zlib bomb: IDAT inflating far past the header-implied size
    raw = b"\x00" + bytes(6 * 3)           # one honest row...
    bombstream = zlib.compress(raw * 100000)  # ...claimed small, huge inflate
    ihdr = struct.pack(">II", 6, 4) + b"\x08\x02\x00\x00\x00"
    def chunk(typ, data):
        return (struct.pack(">I", len(data)) + typ + data
                + struct.pack(">I", zlib.crc32(typ + data)))
    zb = (pngpix.PNG_SIG if hasattr(pngpix, "PNG_SIG") else
          b"\x89PNG\r\n\x1a\n") + chunk(b"IHDR", ihdr) \
        + chunk(b"IDAT", bombstream) + chunk(b"IEND", b"")
    assert pngpix.decode_png(zb) is None
    assert pngpix.MAX_PIXELS >= 1_000_000


# ---- palette / Adam7 / 16-bit (round-6 scope extension) -------------------

def test_adam7_equals_plain_every_channel_count():
    """Adam7 is a pixel-preserving re-arrangement (seven independently
    filtered sub-images): decode(interlaced) == decode(plain) for every
    input, with mixed per-row filters in both layouts."""
    import random as _r
    _r.seed(41)
    for ch in (1, 2, 3, 4):
        w, h = _r.randint(1, 20), _r.randint(1, 20)
        px = bytes(_r.randrange(256) for _ in range(w * h * ch))
        assert pngpix.decode_png(
            pngpix.encode_png(w, h, ch, px, lambda y: y % 5, True)) \
            == (w, h, ch, px)
    # dims smaller than a full 8x8 Adam7 tile: several passes are empty
    px = bytes(range(3 * 2 * 3))
    assert pngpix.decode_png(
        pngpix.encode_png(3, 2, 3, px, interlace=True)) == (3, 2, 3, px)


def test_sixteen_bit_high_byte_downscale():
    import random as _r
    _r.seed(42)
    for ch in (1, 3, 4):
        w, h = 13, 9
        px = bytes(_r.randrange(256) for _ in range(w * h * ch))
        assert pngpix.decode_png(
            pngpix.encode_png16(w, h, ch, px, lambda y: y % 5)) \
            == (w, h, ch, px)


@pytest.mark.parametrize("depth", [1, 2, 4, 8])
def test_palette_roundtrip_all_depths(depth):
    """Sub-byte indices pack MSB-first per scanline; PLTE lookup expands
    to RGB, tRNS adds per-entry alpha (entries past the chunk opaque)."""
    import random as _r
    _r.seed(depth)
    npal = (1 << depth) if depth < 8 else 17
    pal = bytes((k * 7 + c * 31) % 256
                for k in range(npal) for c in range(3))
    for interlace in (False, True):
        w, h = _r.randint(1, 19), _r.randint(1, 19)
        idx = bytes(_r.randrange(npal) for _ in range(w * h))
        dec = pngpix.decode_png(pngpix.encode_png_palette(
            w, h, idx, pal, depth, filter_of_row=lambda y: y % 5,
            interlace=interlace))
        assert dec == (w, h, 3,
                       bytes(b for i in idx for b in pal[i * 3:i * 3 + 3]))
        trns = bytes((k * 13 + 1) % 256 for k in range(min(npal, 5)))
        dec2 = pngpix.decode_png(pngpix.encode_png_palette(
            w, h, idx, pal, depth, trns=trns, interlace=interlace))
        want = bytearray()
        for i in idx:
            want += pal[i * 3:i * 3 + 3]
            want.append(trns[i] if i < len(trns) else 255)
        assert dec2 == (w, h, 4, bytes(want))


def test_palette_defensive():
    """Corrupt palette files: index past PLTE, missing PLTE, truncations
    and bit flips — None or a tuple, never a raise."""
    import random as _r
    import struct
    import zlib as _z

    def chunk(typ, data):
        return (struct.pack(">I", len(data)) + typ + data
                + struct.pack(">I", _z.crc32(typ + data)))

    sig = b"\x89PNG\r\n\x1a\n"
    ihdr = struct.pack(">II", 4, 1) + bytes([8, 3, 0, 0, 0])
    raw = b"\x00" + bytes([0, 1, 2, 3])       # one unfiltered row
    # 2-entry palette but indices reach 3 -> corrupt, must be None
    bad = (sig + chunk(b"IHDR", ihdr) + chunk(b"PLTE", bytes(6))
           + chunk(b"IDAT", _z.compress(raw)) + chunk(b"IEND", b""))
    assert pngpix.decode_png(bad) is None
    # palette image without PLTE
    noplte = (sig + chunk(b"IHDR", ihdr)
              + chunk(b"IDAT", _z.compress(raw)) + chunk(b"IEND", b""))
    assert pngpix.decode_png(noplte) is None
    good = pngpix.encode_png_palette(
        7, 5, bytes((i % 11) for i in range(35)),
        bytes(range(33)), depth=4, trns=bytes([9, 8]), interlace=True)
    for cut in range(0, len(good), 4):
        r = pngpix.decode_png(good[:cut])
        assert r is None or isinstance(r, tuple)
    _r.seed(3)
    for _ in range(60):
        b = bytearray(good)
        b[_r.randrange(len(b))] ^= 0xFF
        r = pngpix.decode_png(bytes(b))
        assert r is None or isinstance(r, tuple)
