"""GIF pixel decode (core/gifpix.py): full-LZW roundtrips, a hand-computed
code-stream trace pinning the width-growth and KwKwK paths, defensive
edges, and integration with the shared image-resample operator."""
from __future__ import annotations

import pytest

from docext_spark.core import gifpix, imagehdr


def _fixture(ncol, w, h, seed=0):
    palette = [((c * 3 + 1) % 256, (c * 5 + 2) % 256, (c * 7 + 3) % 256)
               for c in range(ncol)]
    idx = [(x * 3 + y * 5 + seed) % ncol for y in range(h) for x in range(w)]
    return palette, idx


@pytest.mark.parametrize("ncol,w,h", [(2, 1, 1), (4, 7, 5), (16, 10, 3),
                                      (130, 12, 9), (256, 16, 16)])
def test_roundtrip_palette_sizes(ncol, w, h):
    palette, idx = _fixture(ncol, w, h)
    dec = gifpix.decode_gif(gifpix.encode_gif(w, h, palette, idx))
    assert dec is not None
    dw, dh, ch, rgb = dec
    assert (dw, dh, ch) == (w, h, 3)
    for i, ix in enumerate(idx):
        assert tuple(rgb[i * 3:i * 3 + 3]) == palette[ix]


def _pack(codes):
    acc = nbits = 0
    out = bytearray()
    for code, cw in codes:
        acc |= code << nbits
        nbits += cw
        while nbits >= 8:
            out.append(acc & 0xFF)
            acc >>= 8
            nbits -= 8
    if nbits:
        out.append(acc & 0xFF)
    return bytes(out)


def test_lzw_growth_and_kwkwk_hand_trace():
    """Hand-computed decode of a crafted stream (min_code_size=2):
    CLEAR,1,6,6,7,EOI — code 6 arrives while next==6 (the KwKwK case),
    then next reaches 2^3 so the width grows to 4 bits mid-stream. The
    fixture encoder never emits these (fixed-width ungif), so this pins
    the full-LZW decoder paths independently."""
    clear, eoi = 4, 5
    codes = [(clear, 3), (1, 3), (6, 3), (6, 3), (7, 4), (eoi, 4)]
    out = gifpix._lzw_decode(2, _pack(codes), 100)
    assert out == bytes([1, 1, 1, 1, 1, 1, 1, 1])


def test_mid_stream_clear_resets_dictionary():
    clear, eoi = 4, 5
    codes = [(clear, 3), (2, 3), (6, 3),          # dict[6]=(2,2) via KwKwK
             (clear, 3), (3, 3), (6, 3), (eoi, 3)]  # 6 is KwKwK of 3 now
    out = gifpix._lzw_decode(2, _pack(codes), 100)
    assert out == bytes([2, 2, 2, 3, 3, 3])


def test_defensive_returns_none():
    palette, idx = _fixture(4, 6, 6)
    good = gifpix.encode_gif(6, 6, palette, idx)
    assert gifpix.decode_gif(None) is None
    assert gifpix.decode_gif(b"") is None
    assert gifpix.decode_gif(b"GIF87a") is None
    assert gifpix.decode_gif(b"not a gif") is None
    # header-only (no image descriptor)
    assert gifpix.decode_gif(imagehdr.make_gif(5, 5)) is None
    # truncated mid-stream
    assert gifpix.decode_gif(good[:len(good) // 2]) is None
    # flipping the interlace flag on sequential data still decodes (the
    # rows land permuted — the flag is honored, r6 scope extension)
    bad = bytearray(good)
    pos = bad.index(0x2C)
    bad[pos + 9] |= 0x40
    r = gifpix.decode_gif(bytes(bad))
    assert isinstance(r, tuple) and r[:3] == gifpix.decode_gif(good)[:3]
    # corrupt code stream (out-of-range code)
    out = gifpix._lzw_decode(2, _pack([(4, 3), (7, 3)]), 100)
    assert out is None


def test_resample_operator_decodes_gif(spark):
    import pandas as pd
    from docext_spark.core import pngpix
    from docext_spark.operators.multimodal import (extract_features,
                                                   resample_images)
    palette, idx = _fixture(16, 12, 4, seed=3)
    payload = gifpix.encode_gif(12, 4, palette, idx)
    media = spark.createDataFrame(
        pd.DataFrame([(0, "image", payload)],
                     columns=["media_id", "kind", "payload"]),
        "media_id long, kind string, payload binary")
    r = resample_images(media, max_size=8).collect()[0]
    assert r["format"] == "gif" and (r["width"], r["height"]) == (12, 4)
    nw, nh = pngpix.bounded_dims(12, 4, 8)
    assert (r["new_width"], r["new_height"]) == (nw, nh)
    rgb = gifpix.decode_gif(payload)[3]
    out = pngpix.resize_nearest(12, 4, 3, rgb, nw, nh)
    assert r["px_checksum"] == sum(b * (i + 1) for i, b in enumerate(out))
    f = extract_features(media).collect()[0]
    assert f["feature_src"] == "pixels"


def test_decode_bomb_guard():
    """Review r4b: a small GIF claiming 65535x65535 must return None before
    the LZW output (quadratic in code count) or the RGB buffer allocates."""
    import struct
    palette, idx = _fixture(4, 6, 6)
    good = gifpix.encode_gif(6, 6, palette, idx)
    i = good.index(0x2C)
    bomb = (good[:i + 5] + struct.pack("<HH", 65535, 65535) + good[i + 9:])
    assert gifpix.decode_gif(bomb) is None
    assert gifpix.MAX_PIXELS >= 1_000_000


def test_interlaced_equals_plain():
    """GIF89a interlacing is a row-preserving four-pass re-arrangement:
    decode(interlaced) == decode(plain) for every input, including
    heights where later passes are empty (h < 5)."""
    import random as _r
    _r.seed(21)
    for h in (1, 2, 3, 4, 5, 8, 13, 17):
        w = _r.randint(1, 15)
        npal = _r.choice([2, 4, 8])
        pal = [((k * 7) % 256, (k * 11) % 256, (k * 13) % 256)
               for k in range(npal)]
        idx = [_r.randrange(npal) for _ in range(w * h)]
        plain = gifpix.decode_gif(gifpix.encode_gif(w, h, pal, idx))
        inter = gifpix.decode_gif(gifpix.encode_gif(w, h, pal, idx, True))
        assert plain is not None and inter == plain, h
    # every display row appears exactly once in the pass order
    for h in range(1, 20):
        assert sorted(gifpix.interlace_rows(h)) == list(range(h))


def test_animation_info_and_frames():
    pal = [(c * 31 % 256, c * 57 % 256, c * 89 % 256) for c in range(8)]
    frames = [dict(left=k * 2, top=k, w=4, h=3,
                   indices=[(x + 2 * y + 3 * k) % 8
                            for y in range(3) for x in range(4)],
                   delay_ms=50 * (k + 1), disposal=1,
                   transparent=7 if k == 1 else None)
              for k in range(3)]
    p = gifpix.encode_gif_animated(10, 8, pal, frames, loop=3)
    assert gifpix.gif_animation_info(p) == (10, 8, 3, 300, 3)
    w, h, decoded = gifpix.decode_gif_frames(p)
    assert (w, h, len(decoded)) == (10, 8, 3)
    # manual composite: disposal 1 keeps the canvas, transparency skips
    bg = bytes(pal[0])
    canvas = bytearray(bg * (w * h))
    for k, (delay, rgb) in enumerate(decoded):
        assert delay == 50 * (k + 1)
        for y in range(3):
            for x in range(4):
                idx = (x + 2 * y + 3 * k) % 8
                if k == 1 and idx == 7:
                    continue
                o = ((k + y) * w + k * 2 + x) * 3
                canvas[o:o + 3] = bytes(pal[idx])
        assert rgb == bytes(canvas), k


def test_animation_disposal_2_and_3():
    """Disposal 2 restores the frame rect to the background color AFTER
    the frame shows; disposal 3 restores the pre-frame canvas — the
    NEXT frame's output proves which happened."""
    pal = [(0, 0, 0), (255, 0, 0), (0, 255, 0), (0, 0, 255)]
    full = dict(left=0, top=0, w=4, h=4, indices=[1] * 16, delay_ms=10,
                disposal=1)
    rect2 = dict(left=1, top=1, w=2, h=2, indices=[2] * 4, delay_ms=10,
                 disposal=2)
    rect3 = dict(left=1, top=1, w=2, h=2, indices=[2] * 4, delay_ms=10,
                 disposal=3)
    last = dict(left=0, top=0, w=1, h=1, indices=[3], delay_ms=10,
                disposal=0)
    for mid, restored in ((rect2, (0, 0, 0)), (rect3, (255, 0, 0))):
        p = gifpix.encode_gif_animated(4, 4, pal, [full, mid, last])
        w, h, frames = gifpix.decode_gif_frames(p)
        assert len(frames) == 3
        # frame 1 shows the green rect over red
        assert frames[1][1][(1 * 4 + 1) * 3:(1 * 4 + 1) * 3 + 3] \
            == bytes((0, 255, 0))
        # frame 2: the rect was disposed per method; pixel (1,1) proves it
        assert frames[2][1][(1 * 4 + 1) * 3:(1 * 4 + 1) * 3 + 3] \
            == bytes(restored)
        # and (0,0) got the new blue pixel
        assert frames[2][1][0:3] == bytes((0, 0, 255))


def test_animation_defensive():
    import random as _r
    pal = [(c, c, c) for c in range(4)]
    good = gifpix.encode_gif_animated(
        6, 6, pal, [dict(left=0, top=0, w=6, h=6,
                         indices=[(i + k) % 4 for i in range(36)],
                         delay_ms=20, disposal=k % 4,
                         transparent=3 if k == 1 else None)
                    for k in range(3)], loop=0)
    assert gifpix.decode_gif_frames(good) is not None
    for cut in range(0, len(good), 5):
        r = gifpix.decode_gif_frames(good[:cut])
        assert r is None or isinstance(r, tuple)
    _r.seed(7)
    for _ in range(80):
        b = bytearray(good)
        b[_r.randrange(len(b))] ^= 0xFF
        r = gifpix.decode_gif_frames(bytes(b))
        assert r is None or isinstance(r, tuple)


@pytest.mark.parametrize("code_size", [0, 1, 9, 10, 11, 12, 255])
def test_lzw_code_size_outside_2_to_8_returns_none(code_size):
    """GIF limits the LZW minimum code size to 2-8. A larger one used to
    reach the root-code table build and raise ValueError (bytes must be
    in range(0, 256)) out of decode_gif and decode_gif_frames."""
    palette, idx = _fixture(4, 6, 6)
    for payload in (gifpix.encode_gif(6, 6, palette, idx),
                    gifpix.encode_gif_animated(
                        6, 6, palette, [dict(w=6, h=6, indices=idx)])):
        bad = bytearray(payload)
        bad[bad.index(0x2C) + 10] = code_size
        assert gifpix.decode_gif(bytes(bad)) is None
        assert gifpix.decode_gif_frames(bytes(bad)) is None
    assert gifpix._lzw_decode(code_size, b"\x00" * 4, 100) is None
