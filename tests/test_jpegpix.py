"""Baseline JPEG decode (core/jpegpix.py): exact blockwise-constant
roundtrips, bounded-error general roundtrips, IDCT reference cross-check,
robustness sweeps, operator integration."""
from __future__ import annotations

import random

import pytest

from docext_spark.core import imagehdr, jpegpix


def _block_image(w, h, seed=0):
    return bytes(((((x // 8) * 3 + (y // 8) * 5 + seed) % 128) * 2)
                 for y in range(h) for x in range(w))


@pytest.mark.parametrize("w,h", [(8, 8), (24, 16), (16, 24), (13, 11)])
def test_blockwise_constant_even_exact_roundtrip(w, h):
    """Constant even-valued blocks survive FDCT → flat-16 quant → IDCT
    bit-exactly (only DC survives and it is divisible by 16) — through a
    REAL entropy-coded stream (Huffman, byte stuffing, DC prediction)."""
    px = _block_image(w, h, seed=w + h)
    assert jpegpix.decode_jpeg(jpegpix.encode_jpeg_sequential(w, h, [px])) \
        == (w, h, 1, px)


def test_gradient_bounded_error():
    px = bytes(min(255, x * 7 + y * 2) for y in range(16) for x in range(16))
    dec = jpegpix.decode_jpeg(jpegpix.encode_jpeg_sequential(16, 16, [px]))
    assert dec is not None and dec[:3] == (16, 16, 1)
    assert max(abs(a - b) for a, b in zip(dec[3], px)) <= 16


def test_checkerboard_exercises_ac_coefficients():
    """A high-frequency pattern forces nonzero AC coefficients through the
    run/size + ZRL + EOB coding — the paths a DC-only image never hits."""
    px = bytes(200 if (x + y) % 2 == 0 else 40
               for y in range(8) for x in range(8))
    dec = jpegpix.decode_jpeg(jpegpix.encode_jpeg_sequential(8, 8, [px]))
    assert dec is not None
    # lossy but structure-preserving: every decoded pixel lands on the
    # correct side of the midline
    assert all((d > 120) == (p > 120) for d, p in zip(dec[3], px))


def test_idct_matches_reference_formula():
    import numpy as np
    rng = np.random.RandomState(0)
    coefs = rng.randint(-200, 200, 64).astype(float)
    mine = np.array(jpegpix.idct2d(list(coefs))).reshape(8, 8)
    C = np.array([1 / np.sqrt(2)] + [1.0] * 7)
    ref = np.zeros((8, 8))
    for y in range(8):
        for x in range(8):
            s = 0.0
            for v in range(8):
                for u in range(8):
                    s += (C[u] * C[v] * coefs[v * 8 + u]
                          * np.cos((2 * x + 1) * u * np.pi / 16)
                          * np.cos((2 * y + 1) * v * np.pi / 16))
            ref[y, x] = s / 4
    assert np.allclose(mine, ref, atol=1e-9)
    # fdct is the exact inverse (float)
    back = jpegpix.fdct2d(jpegpix.idct2d(list(coefs)))
    assert max(abs(a - b) for a, b in zip(back, coefs)) < 1e-6


def test_defensive_never_raises():
    px = _block_image(24, 16)
    good = jpegpix.encode_jpeg_sequential(24, 16, [px])
    assert jpegpix.decode_jpeg(None) is None
    assert jpegpix.decode_jpeg(b"") is None
    assert jpegpix.decode_jpeg(b"\xff\xd8 junk") is None
    # header-only JPEG (the multimodal_features fixture shape): no DHT/SOS
    assert jpegpix.decode_jpeg(imagehdr.make_jpeg(40, 30)) is None
    # every truncation point decodes to None or a tuple, never raises
    for cut in range(0, len(good), 5):
        r = jpegpix.decode_jpeg(good[:cut])
        assert r is None or isinstance(r, tuple)
    # single-byte corruption sweep
    random.seed(7)
    for _ in range(60):
        bad = bytearray(good)
        bad[random.randrange(len(bad))] ^= 0xFF
        r = jpegpix.decode_jpeg(bytes(bad))
        assert r is None or isinstance(r, tuple)


def test_resample_operator_decodes_jpeg(spark):
    import pandas as pd
    from docext_spark.core import pngpix
    from docext_spark.operators.multimodal import (extract_features,
                                                   resample_images)
    px = _block_image(24, 16, seed=5)
    payload = jpegpix.encode_jpeg_sequential(24, 16, [px])
    media = spark.createDataFrame(
        pd.DataFrame([(0, "image", payload)],
                     columns=["media_id", "kind", "payload"]),
        "media_id long, kind string, payload binary")
    r = resample_images(media, max_size=12).collect()[0]
    assert r["format"] == "jpeg"
    assert (r["width"], r["height"], r["channels"]) == (24, 16, 1)
    nw, nh = pngpix.bounded_dims(24, 16, 12)
    assert (r["new_width"], r["new_height"]) == (nw, nh)
    out = pngpix.resize_nearest(24, 16, 1, px, nw, nh)
    assert r["px_checksum"] == sum(b * (i + 1) for i, b in enumerate(out))
    f = extract_features(media).collect()[0]
    assert f["feature_src"] == "pixels"
    # header dims (marker walk) and pixel decode agree
    assert (f["width"], f["height"]) == (24, 16)


def test_decode_bomb_guard():
    """Review r4b (verified live repro): a ~150-byte payload claiming
    60000x60000 in SOF0 must return None BEFORE allocating the output
    buffer or driving millions of IDCT calls."""
    import struct
    px = _block_image(8, 8)
    good = jpegpix.encode_jpeg_sequential(8, 8, [px])
    # patch the SOF0 height/width words (marker FF C0, dims at offset +5)
    i = good.index(b"\xff\xc0")
    bomb = (good[:i + 5] + struct.pack(">HH", 60000, 60000) + good[i + 9:])
    assert jpegpix.decode_jpeg(bomb) is None
    # the guard constant itself is sane
    assert jpegpix.MAX_PIXELS >= 1_000_000


def _planes(w, h, seed=0):
    def plane(f):
        return bytes((f(x // 8, y // 8) % 128) * 2
                     for y in range(h) for x in range(w))
    return (plane(lambda bx, by: bx * 3 + by * 5 + seed),
            plane(lambda bx, by: bx * 7 + seed * 2),
            plane(lambda bx, by: by * 11 + seed * 3))


def test_color_blockconst_exact_and_bt601():
    """3-component 4:4:4: per-plane blockwise-constant even values decode
    bit-exactly through the interleaved entropy stream (per-component DC
    predictors), and the RGB output equals the closed-form BT.601
    floor(x+0.5) conversion."""
    import math
    w, h = 24, 16
    y, cb, cr = _planes(w, h, seed=4)
    dec = jpegpix.decode_jpeg(jpegpix.encode_jpeg_sequential(w, h,
                                                             [y, cb, cr]))
    assert dec is not None and dec[:3] == (w, h, 3)
    rgb = dec[3]
    for i in range(w * h):
        yv, cbv, crv = y[i], cb[i], cr[i]
        r = min(255, max(0, math.floor(yv + 1.402 * (crv - 128) + 0.5)))
        g = min(255, max(0, math.floor(yv - 0.344136 * (cbv - 128)
                                       - 0.714136 * (crv - 128) + 0.5)))
        b = min(255, max(0, math.floor(yv + 1.772 * (cbv - 128) + 0.5)))
        assert (rgb[i * 3], rgb[i * 3 + 1], rgb[i * 3 + 2]) == (r, g, b), i


def test_color_gray_identity():
    """Y=v, Cb=Cr=128 must decode to R=G=B=v exactly (the chroma terms are
    exactly zero)."""
    w, h = 16, 8
    y = bytes(((x // 8 + (yy // 8) * 2) % 128) * 2
              for yy in range(h) for x in range(w))
    neutral = bytes([128]) * (w * h)
    dec = jpegpix.decode_jpeg(jpegpix.encode_jpeg_sequential(
        w, h, [y, neutral, neutral]))
    assert all(dec[3][i * 3] == dec[3][i * 3 + 1] == dec[3][i * 3 + 2]
               == y[i] for i in range(w * h))


def test_color_truncation_robustness():
    w, h = 16, 16
    b = jpegpix.encode_jpeg_sequential(w, h, _planes(w, h, seed=1))
    for cut in range(0, len(b), 9):
        r = jpegpix.decode_jpeg(b[:cut])
        assert r is None or isinstance(r, tuple)


def _sub_planes(w, h, sv, seed):
    y = bytes((((x // 8) * 3 + (yy // 8) * 5 + seed) % 128) * 2
              for yy in range(h) for x in range(w))
    cw, ch = (w + 1) // 2, (h + sv - 1) // sv
    cb = bytes((((x // 8) * 7 + seed * 2) % 128) * 2
               for yy in range(ch) for x in range(cw))
    cr = bytes((((yy // 8) * 11 + seed * 3) % 128) * 2
               for yy in range(ch) for x in range(cw))
    return y, cb, cr, cw, ch


def test_subsampled_420_blockconst_exact():
    """4:2:0 (luma 2x2, chroma 1x1): per-plane blockwise-constant even
    values decode bit-exactly through the Vi×Hi interleaved MCU stream,
    and the replicated-upsample + BT.601 output is closed-form."""
    import math
    w, h = 24, 16
    y, cb, cr, cw, ch = _sub_planes(w, h, 2, seed=5)
    dec = jpegpix.decode_jpeg(
        jpegpix.encode_jpeg_sequential(w, h, [y, cb, cr], sh=2, sv=2))
    assert dec is not None and dec[:3] == (w, h, 3)
    rgb = dec[3]
    for i in range(w * h):
        x, yy = i % w, i // w
        yv = y[i]
        cbv = cb[(yy // 2) * cw + x // 2]
        crv = cr[(yy // 2) * cw + x // 2]
        r = min(255, max(0, math.floor(yv + 1.402 * (crv - 128) + 0.5)))
        g = min(255, max(0, math.floor(yv - 0.344136 * (cbv - 128)
                                       - 0.714136 * (crv - 128) + 0.5)))
        b = min(255, max(0, math.floor(yv + 1.772 * (cbv - 128) + 0.5)))
        assert (rgb[i * 3], rgb[i * 3 + 1], rgb[i * 3 + 2]) == (r, g, b), i


def test_subsampled_422_odd_dims_exact():
    """4:2:2 with non-multiple-of-16 width (13): partial MCUs are encoded
    edge-replicated and clipped on decode; constant blocks stay exact."""
    w, h = 13, 10
    y = bytes([88]) * (w * h)
    cw, ch = 7, 10
    cb = bytes([128]) * (cw * ch)
    cr = bytes([128]) * (cw * ch)
    dec = jpegpix.decode_jpeg(
        jpegpix.encode_jpeg_sequential(w, h, [y, cb, cr], sh=2, sv=1))
    assert dec is not None and dec[:3] == (w, h, 3)
    assert all(v == 88 for v in dec[3])


def test_subsampled_equals_444_when_neutral_chroma():
    """A 4:2:0 file with neutral chroma must decode to the same gray image
    as the 4:4:4 encoding of the same luma."""
    w, h = 16, 16
    y = bytes((((x // 8) + (yy // 8) * 2) % 128) * 2
              for yy in range(h) for x in range(w))
    full = jpegpix.decode_jpeg(jpegpix.encode_jpeg_sequential(
        w, h, [y, bytes([128]) * (w * h), bytes([128]) * (w * h)]))
    sub = jpegpix.decode_jpeg(jpegpix.encode_jpeg_sequential(
        w, h, [y, bytes([128]) * 64, bytes([128]) * 64], sh=2, sv=2))
    assert full[3] == sub[3]


def test_subsampled_truncation_robustness():
    w, h = 16, 16
    y, cb, cr, _, _ = _sub_planes(w, h, 2, seed=2)
    b = jpegpix.encode_jpeg_sequential(w, h, [y, cb, cr], sh=2, sv=2)
    for cut in range(0, len(b), 7):
        r = jpegpix.decode_jpeg(b[:cut])
        assert r is None or isinstance(r, tuple)


def test_sampling_factor_above_two_returns_none():
    """Factors >2 (e.g. 4:1:1's luma 4x1) are out of scope and must route
    to the codec fleet, not crash or mis-decode."""
    w, h = 16, 16
    y, cb, cr, _, _ = _sub_planes(w, h, 2, seed=3)
    b = bytearray(jpegpix.encode_jpeg_sequential(w, h, [y, cb, cr],
                                                 sh=2, sv=2))
    i = bytes(b).find(b"\xff\xc0")
    # component 1's sampling byte sits at SOF body offset 7 (id,samp,tq)
    assert b[i + 4 + 7] == 0x22
    b[i + 4 + 7] = 0x41
    assert jpegpix.decode_jpeg(bytes(b)) is None


def test_restart_interval_gray_exact():
    """DRI/RSTn layout (camera-JPEG error resilience): blockwise-constant
    fixtures round-trip exactly through restart boundaries, with DC
    predictors reset at each RSTn and modulo-8 sequence numbers."""
    w, h = 32, 16            # 8 MCUs
    px = bytes((((x // 8) * 3 + (yy // 8) * 5) % 128) * 2
               for yy in range(h) for x in range(w))
    b = jpegpix.encode_jpeg_sequential(w, h, [px], restart_interval=2)
    assert b"\xff\xdd" in b  # DRI present
    n_rst = sum(b.count(bytes([0xFF, 0xD0 + i])) for i in range(8))
    assert n_rst == 3        # 8 MCUs / interval 2 -> boundaries at 2,4,6
    assert jpegpix.decode_jpeg(b) == (w, h, 1, px)


def test_restart_interval_subsampled_exact():
    w, h = 32, 16
    y = bytes((((x // 8) * 3 + (yy // 8) * 5) % 128) * 2
              for yy in range(h) for x in range(w))
    cb, cr = bytes([120]) * 128, bytes([140]) * 128
    b = jpegpix.encode_jpeg_sequential(w, h, [y, cb, cr], sh=2, sv=2,
                                       restart_interval=1)
    plain = jpegpix.encode_jpeg_sequential(w, h, [y, cb, cr], sh=2, sv=2)
    assert jpegpix.decode_jpeg(b)[3] == jpegpix.decode_jpeg(plain)[3]


def test_restart_bad_sequence_and_truncation_rejected():
    w, h = 32, 16
    px = bytes([100]) * (w * h)
    b = jpegpix.encode_jpeg_sequential(w, h, [px], restart_interval=2)
    i = b.find(b"\xff\xd0")
    bad = bytearray(b)
    bad[i + 1] = 0xD5        # wrong modulo-8 sequence
    assert jpegpix.decode_jpeg(bytes(bad)) is None
    for cut in range(0, len(b), 11):
        r = jpegpix.decode_jpeg(b[:cut])
        assert r is None or isinstance(r, tuple)


def test_progressive_equals_baseline_gray():
    """Progressive (SOF2) is a lossless re-coding of the same quantized
    coefficients: decode(progressive(px)) == decode(baseline(px)) for
    every input — spectral selection, successive approximation, EOB runs
    and refinement correction bits all exact."""
    import random
    rng = random.Random(41)
    for _ in range(8):
        w = 8 * rng.randint(1, 4) + rng.choice([0, 3, 5])
        h = 8 * rng.randint(1, 4) + rng.choice([0, 2, 7])
        px = bytes(rng.randrange(256) for _ in range(w * h))
        assert jpegpix.decode_jpeg(
            jpegpix.encode_jpeg_progressive(w, h, [px])) \
            == jpegpix.decode_jpeg(
                jpegpix.encode_jpeg_sequential(w, h, [px])), (w, h)


def test_progressive_equals_baseline_color_subsampled():
    import random
    rng = random.Random(42)
    for sh, sv in ((2, 2), (2, 1), (1, 1)):
        w, h = 8 * rng.randint(1, 3) + 5, 8 * rng.randint(1, 3) + 3
        cw, ch = (w + sh - 1) // sh, (h + sv - 1) // sv
        y = bytes(rng.randrange(256) for _ in range(w * h))
        cb = bytes(rng.randrange(256) for _ in range(cw * ch))
        cr = bytes(rng.randrange(256) for _ in range(cw * ch))
        assert jpegpix.decode_jpeg(
            jpegpix.encode_jpeg_progressive(w, h, [y, cb, cr], sh, sv)) \
            == jpegpix.decode_jpeg(
                jpegpix.encode_jpeg_sequential(w, h, [y, cb, cr],
                                               sh=sh, sv=sv)), \
            (w, h, sh, sv)


def test_progressive_smooth_image_exercises_eob_runs():
    """A constant image makes every AC scan a single maximal EOB run
    (EOBRUN > 1 decoding), and blockwise-constant-even pixels round-trip
    exactly as in baseline."""
    w, h = 32, 24
    px = bytes((((x // 8) * 3 + (yy // 8) * 5) % 128) * 2
               for yy in range(h) for x in range(w))
    dec = jpegpix.decode_jpeg(jpegpix.encode_jpeg_progressive(w, h, [px]))
    assert dec == (w, h, 1, px)


def test_progressive_truncation_total():
    """Truncation anywhere — including mid-scan and between scans — never
    raises; partial-scan files may render partially (that is progressive's
    point) but must stay total."""
    w, h = 16, 16
    px = bytes((i * 7) % 256 for i in range(w * h))
    b = jpegpix.encode_jpeg_progressive(w, h, [px])
    for cut in range(0, len(b), 13):
        r = jpegpix.decode_jpeg(b[:cut])
        assert r is None or (isinstance(r, tuple) and r[0] == w)


def test_progressive_dc_only_prefix_renders():
    """Keeping only the DC-first scan + EOI yields the classic blurry
    first-pass render: every 8x8 block becomes its (Al-truncated) mean."""
    import struct
    w = h = 16
    px = bytes([100] * 128 + [200] * 128)
    b = jpegpix.encode_jpeg_progressive(w, h, [px])
    # locate the end of the first SOS scan (next 0xFF-marker after it)
    i = b.find(b"\xff\xda")
    seg_len = struct.unpack(">H", b[i + 2:i + 4])[0]
    j = i + 2 + seg_len
    while j + 1 < len(b) and not (b[j] == 0xFF and b[j + 1] not in (0, 0xFF)):
        j += 1
    dec = jpegpix.decode_jpeg(b[:j] + b"\xff\xd9")
    assert dec is not None and dec[:3] == (w, h, 1)
    # DC coded at Al=1: value 100 -> q_dc round((100-128)*8/16)=-14 ->
    # (-14>>1)<<1 = -14 -> reconstructed 128-14*16/8 = 100 (even values
    # at flat-16 quant stay exact even through the Al=1 truncation)
    assert set(dec[3]) == {100, 200}


def test_refine_correction_beyond_zrl_run():
    """Code-review r5: a nonzero-history coefficient beyond the 16th
    zero-history position of a long run (coefs {0:4, 22:2, 23:1}) must
    keep encoder and decoder in sync — the ZRL emission runs at EVERY
    nonzero coefficient, with only the pre-ZRL correction bits flushed."""
    from docext_spark.core.jpegpix import ZIGZAG, idct2d
    natural = [0.0] * 64
    for k, v in ((0, 4), (22, 2), (23, 1)):
        natural[ZIGZAG[k]] = v * 16
    spatial = idct2d(natural)
    px = bytes(min(255, max(0, int(round(s)) + 128)) for s in spatial)
    assert jpegpix.decode_jpeg(jpegpix.encode_jpeg_progressive(8, 8, [px])) \
        == jpegpix.decode_jpeg(jpegpix.encode_jpeg_sequential(8, 8, [px]))


def test_progressive_smooth_with_detail_equality():
    """The long-zero-run + late-tiny-coefficient family that exposed the
    refinement desync (was ~1/300 failing before the fix)."""
    import random
    rng = random.Random(13)
    for _ in range(40):
        w = h = 16
        cx, cy = rng.randrange(w), rng.randrange(h)
        px = bytes(min(255, (x + y) * 4 + (200 if (x, y) == (cx, cy) else 0))
                   for y in range(h) for x in range(w))
        assert jpegpix.decode_jpeg(
            jpegpix.encode_jpeg_progressive(w, h, [px])) \
            == jpegpix.decode_jpeg(
                jpegpix.encode_jpeg_sequential(w, h, [px])), \
            (cx, cy)


def test_duplicate_sof_returns_none():
    """Code-review r5: a duplicated frame header must yield None (the
    never-raise totality contract), not a KeyError from an orphaned
    progressive coefficient store."""
    import struct
    b = jpegpix.encode_jpeg_progressive(16, 16, [bytes(range(256))])
    i = b.find(b"\xff\xc2")
    ln = struct.unpack(">H", b[i + 2:i + 4])[0]
    dup = b[:i + 2 + ln] + b[i:i + 2 + ln] + b[i + 2 + ln:]
    assert jpegpix.decode_jpeg(dup) is None
    # baseline too
    g = jpegpix.encode_jpeg_sequential(8, 8, [bytes([7]) * 64])
    j = g.find(b"\xff\xc0")
    ln = struct.unpack(">H", g[j + 2:j + 4])[0]
    assert jpegpix.decode_jpeg(g[:j + 2 + ln] + g[j:j + 2 + ln]
                               + g[j + 2 + ln:]) is None


# ---- lossless (SOF3, T.81 Annex H) ----------------------------------------

@pytest.mark.parametrize("predictor", list(range(1, 8)))
def test_lossless_exact_roundtrip_all_predictors(predictor):
    """Lossless JPEG has no DCT and no quantization: encode→decode is an
    identity for EVERY input, per predictor — including gradients that
    the lossy baseline could never reproduce exactly."""
    w, h = 19, 14
    px = bytes((3 * x + 7 * y + predictor) % 256
               for y in range(h) for x in range(w))
    assert jpegpix.decode_jpeg(
        jpegpix.encode_jpeg_lossless(w, h, [px], predictor=predictor)) \
        == (w, h, 1, px)


def test_lossless_random_fuzz_gray_and_color():
    random.seed(1234)
    for _ in range(60):
        w, h = random.randint(1, 21), random.randint(1, 21)
        ncomp = random.choice([1, 3])
        pred = random.randint(1, 7)
        planes = [bytes(random.randrange(256) for _ in range(w * h))
                  for _ in range(ncomp)]
        res = jpegpix.decode_jpeg(
            jpegpix.encode_jpeg_lossless(w, h, planes, predictor=pred))
        assert res is not None and res[:3] == (w, h, ncomp)
        if ncomp == 1:
            assert res[3] == planes[0]
        else:
            # 3-component lossless carries no colour transform: output
            # interleaves the coded samples in component order
            assert all(res[3][ci::3] == planes[ci] for ci in range(3))


def test_lossless_point_transform():
    """Pt shifts samples down before coding and the decoder shifts back:
    multiples of 2^Pt round-trip exactly; other values floor to the
    nearest multiple (the documented precision loss of H.1.2.1)."""
    w = h = 16
    for pt in (1, 3):
        exact = bytes(((5 * x + 11 * y) % (256 >> pt)) << pt
                      for y in range(h) for x in range(w))
        assert jpegpix.decode_jpeg(
            jpegpix.encode_jpeg_lossless(w, h, [exact], pt=pt))[3] == exact
        rough = bytes((5 * x + 11 * y + 1) % 256
                      for y in range(h) for x in range(w))
        dec = jpegpix.decode_jpeg(
            jpegpix.encode_jpeg_lossless(w, h, [rough], pt=pt))[3]
        assert dec == bytes((v >> pt) << pt for v in rough)


def test_lossless_defensive_and_scope():
    px = bytes(range(64))
    good = jpegpix.encode_jpeg_lossless(8, 8, [px])
    # dims visible to the header parser (routing/resize planning)
    assert imagehdr.parse_dims(good) == ("jpeg", 8, 8)
    # truncation + corruption sweeps: None or tuple, never a raise
    for cut in range(0, len(good), 3):
        r = jpegpix.decode_jpeg(good[:cut])
        assert r is None or isinstance(r, tuple)
    random.seed(9)
    for _ in range(60):
        bad = bytearray(good)
        bad[random.randrange(len(bad))] ^= 0xFF
        r = jpegpix.decode_jpeg(bytes(bad))
        assert r is None or isinstance(r, tuple)
    # invalid scan headers: predictor 0, nonzero Se, DRI out of scope
    sos = good.find(b"\xff\xda")
    bad_pred = bytearray(good)
    bad_pred[sos + 7] = 0                 # Ss(predictor)=0
    assert jpegpix.decode_jpeg(bytes(bad_pred)) is None
    import struct as _s
    dri = b"\xff\xdd" + _s.pack(">H", 4) + _s.pack(">H", 2)
    assert jpegpix.decode_jpeg(good[:2] + dri + good[2:]) is None
    with pytest.raises(ValueError):
        jpegpix.encode_jpeg_lossless(8, 8, [px], predictor=0)
    with pytest.raises(ValueError):
        jpegpix.encode_jpeg_lossless(8, 8, [px, px])


def test_scan_order_must_follow_frame_order():
    """T.81 B.2.3: scan-header components must appear in frame-header
    order. The decode loops walk SOF order, so a reordered scan header
    would silently interleave the entropy stream differently than read —
    reject it instead (code-review r6), for baseline and lossless both."""
    px = bytes((3 * x + 7 * y) % 256 for y in range(8) for x in range(8))
    for payload in (
            jpegpix.encode_jpeg_lossless(8, 8, [px, px, px]),
            jpegpix.encode_jpeg_sequential(8, 8, [px, px, px])):
        sos = payload.find(b"\xff\xda")
        b = bytearray(payload)
        assert (b[sos + 5], b[sos + 7], b[sos + 9]) == (1, 2, 3)
        b[sos + 5], b[sos + 9] = 3, 1        # reorder selectors
        assert jpegpix.decode_jpeg(bytes(b)) is None
        assert jpegpix.decode_jpeg(payload) is not None   # pristine ok
