"""Exact-byte pins for the fixture encoders.

The other codec tests check decode round-trips, which a change to the
entropy stream, the marker layout or the LZW packing can pass while
still moving every payload the oracle pairs read. This file pins the
sha256 of every output of the sequential JPEG encoders (Huffman and
arithmetic, gray, 4:4:4 and subsampled colour), the progressive and
lossless JPEG encoders, both GIF encoders and the TIFF encoders (every
bit depth, compression, predictor, planar and strip/tile layout, and
JPEG-in-TIFF with and without JPEGTables) over a seeded parameter
sweep. Each group folds the per-output digests into one sha256, so a
single changed byte in any case fails its group.
"""
import hashlib
import random

import pytest

from docext_spark.core import gifpix, tiffpix
from docext_spark.core import jpegpix as J

QUANTS = (1, 4, 16, 40)
RESTARTS = (0, 1, 2, 3, 5)
SAMPLINGS = ((1, 1), (2, 1), (1, 2), (2, 2))
DC_CONDS = ((0, 1), (0, 2), (1, 3))
KXS = (5, 2, 9)
CORNERS = ((1, 1), (45, 45), (1, 45), (45, 1))
N_CASES = 60


def _dims(rng, i):
    return CORNERS[i] if i < len(CORNERS) \
        else (rng.randint(1, 45), rng.randint(1, 45))


def _plane(rng, w, h, kind):
    """Noise, a smooth ramp or blockwise-constant even samples."""
    if kind == 0:
        return bytes(rng.randrange(256) for _ in range(w * h))
    if kind == 1:
        a, b = rng.randint(0, 9), rng.randint(0, 9)
        return bytes((x * a + y * b) % 256 for y in range(h) for x in range(w))
    c = rng.randint(0, 127)
    return bytes(((x // 8 * 3 + y // 8 * 5 + c) % 128) * 2
                 for y in range(h) for x in range(w))


def _jpeg_cases(seed, ncomp, sub):
    """(w, h, planes, sh, sv, quant, restart, dc_cond, kx) per case; the
    chroma planes of a subsampled case are at ceil(w/sh) × ceil(h/sv)."""
    rng = random.Random(seed)
    for i in range(N_CASES):
        w, h = _dims(rng, i)
        sh, sv = SAMPLINGS[(i // 5) % 4] if sub else (1, 1)
        cw, ch = (w + sh - 1) // sh, (h + sv - 1) // sv
        kind = i % 3
        planes = [_plane(rng, w, h, kind)] + [
            _plane(rng, cw, ch, kind) for _ in range(ncomp - 1)]
        yield (w, h, planes, sh, sv, QUANTS[i % 4], RESTARTS[i % 5],
               DC_CONDS[i % 3], KXS[(i // 3) % 3])


# group -> (seed, ncomp, subsampled, encoder)
JPEG_GROUPS = {
    "jpeg_gray": (1, 1, False,
                  lambda w, h, p, sh, sv, q, ri, dc, kx:
                  J.encode_jpeg_sequential(w, h, p, quant=q,
                                           restart_interval=ri)),
    "jpeg_ycbcr": (2, 3, False,
                   lambda w, h, p, sh, sv, q, ri, dc, kx:
                   J.encode_jpeg_sequential(w, h, p, quant=q)),
    "jpeg_ycbcr_sub": (3, 3, True,
                       lambda w, h, p, sh, sv, q, ri, dc, kx:
                       J.encode_jpeg_sequential(w, h, p, sh=sh, sv=sv,
                                                quant=q,
                                                restart_interval=ri)),
    "jpeg_arith_gray": (4, 1, False,
                        lambda w, h, p, sh, sv, q, ri, dc, kx:
                        J.encode_jpeg_sequential(w, h, p, quant=q,
                                                 restart_interval=ri,
                                                 arith=True,
                                                 dc_cond=dc, kx=kx)),
    "jpeg_arith_ycbcr": (5, 3, False,
                         lambda w, h, p, sh, sv, q, ri, dc, kx:
                         J.encode_jpeg_sequential(w, h, p, quant=q,
                                                  arith=True)),
    "jpeg_arith_ycbcr_sub": (6, 3, True,
                             lambda w, h, p, sh, sv, q, ri, dc, kx:
                             J.encode_jpeg_sequential(
                                 w, h, p, sh=sh, sv=sv, quant=q,
                                 arith=True)),
    "jpeg_progressive_gray": (7, 1, False,
                              lambda w, h, p, sh, sv, q, ri, dc, kx:
                              J.encode_jpeg_progressive(w, h, p, quant=q)),
    "jpeg_progressive_ycbcr_sub": (8, 3, True,
                                   lambda w, h, p, sh, sv, q, ri, dc, kx:
                                   J.encode_jpeg_progressive(
                                       w, h, p, sh=sh, sv=sv, quant=q)),
}

EXPECTED = {
    "jpeg_arith_gray":
        "5931280b2db38c10ea5285e63dc9604110aeb8cfdf74f8c176eba5975796aa3d",
    "jpeg_arith_ycbcr":
        "91644173c3bfc08af6e7c7cfbe0c6b2460bba2293ad819ece3689209172c7398",
    "jpeg_arith_ycbcr_sub":
        "4f26eea51b34cb1fc82ca57996cbd755cff8536a220381c1ec4d99a5c540f7e0",
    "jpeg_gray":
        "c84035bb8e06bfd61c1f253726d4b40f092279420a34101a2d24806bb2dd84ae",
    "jpeg_ycbcr":
        "d055f9a3ddc3576082c66cecb4ccd53e15c8706192223f665e69f8d66ffb5cee",
    "jpeg_ycbcr_sub":
        "09b9eb59b8d9051c5c64dd6f826b5460a4f7197ade86e6b2467a4292135ee9b3",
    "gif":
        "a4ae8a9ed5826643345b49bf01a4e15faf199c1095e79feb046a15f222a3ec6e",
    "gif_interlaced":
        "45b36124ec9a5c6b7fe7048a6a034f87454e24754c16820b1b5b95718bcaacc7",
    "gif_animated":
        "1bbd500feaee5ddcd746120f3172b2a7d48b1b1414f22725c9d67f720a8b05a7",
    "jpeg_progressive_gray":
        "c2e3ceb622480b5ac943a79c67c1162570d10fa0ef0962ca6722e7a62f615cb7",
    "jpeg_progressive_ycbcr_sub":
        "8daefb35aec56b42b2ee317d6431360fc666952884d05515c8aab461f3041d91",
    "jpeg_lossless":
        "dfe4dc6d4f13c284985be550eb0384f95248c90ccf2f54709a5e180238dfabfe",
    "tiff":
        "74f3d06bc406cde3d7c0f3494a11017e7a8674ae2eab69c5ad53df8aa51b1439",
    "tiff_jpeg":
        "3dd12871ff50f98ab7e6b8ff89c6a3333d6bae1265f4170377a5a9c98a686b64",
}


def _fold(outputs):
    acc = hashlib.sha256()
    for out in outputs:
        acc.update(hashlib.sha256(out).digest())
    return acc.hexdigest()


@pytest.mark.parametrize("group", sorted(JPEG_GROUPS))
def test_jpeg_encoder_bytes(group):
    seed, ncomp, sub, encode = JPEG_GROUPS[group]
    digest = _fold(encode(*case) for case in _jpeg_cases(seed, ncomp, sub))
    assert digest == EXPECTED[group], (group, digest)


def _palette(rng, n):
    return [(rng.randrange(256), rng.randrange(256), rng.randrange(256))
            for _ in range(n)]


def _gif_outputs(interlace):
    """Palette sizes 1..256 (min code size 2..8, so both the CLEAR
    cadence and the 255-byte sub-block split are crossed)."""
    rng = random.Random(11)
    for i in range(N_CASES):
        w, h = _dims(rng, i)
        npal = (1, 2, 3, 4, 5, 16, 17, 200, 256)[i % 9]
        pal = _palette(rng, npal)
        idx = [rng.randrange(npal) for _ in range(w * h)]
        yield gifpix.encode_gif(w, h, pal, idx, interlace=interlace)


def _gif_animated_outputs():
    """Every disposal, with and without a transparent index, loop off,
    infinite and counted, a non-zero background index."""
    rng = random.Random(12)
    for i in range(N_CASES):
        w, h = _dims(rng, i)
        npal = (2, 4, 16, 256)[i % 4]
        pal = _palette(rng, npal)
        frames = []
        for k in range(1 + i % 4):
            fw, fh = rng.randint(1, w), rng.randint(1, h)
            frames.append(dict(
                left=rng.randint(0, w - fw), top=rng.randint(0, h - fh),
                w=fw, h=fh,
                indices=[rng.randrange(npal) for _ in range(fw * fh)],
                delay_ms=rng.choice((0, 10, 70, 1230)),
                disposal=(i + k) % 4,
                transparent=None if (i // 4) % 2 else rng.randrange(npal)))
        yield gifpix.encode_gif_animated(
            w, h, pal, frames, loop=(None, 0, 3)[i % 3],
            bg_idx=rng.randrange(npal))


def test_gif_encoder_bytes():
    assert _fold(_gif_outputs(False)) == EXPECTED["gif"]
    assert _fold(_gif_outputs(True)) == EXPECTED["gif_interlaced"]


def test_gif_animated_encoder_bytes():
    assert _fold(_gif_animated_outputs()) == EXPECTED["gif_animated"]


def _lossless_outputs():
    """Gray and three-component planes, every predictor 1-7, Pt 0-2."""
    rng = random.Random(9)
    for i in range(42):
        w, h = _dims(rng, i % 21)
        ncomp = (1, 3)[i // 21]
        planes = [_plane(rng, w, h, i % 3) for _ in range(ncomp)]
        yield J.encode_jpeg_lossless(w, h, planes, predictor=1 + i % 7,
                                     pt=(i // 7) % 3)


def _tiff_outputs():
    """8/16-bit × compressions 1/5/8/32773 × gray/RGB over both byte
    orders, the predictor, planar 2, WhiteIsZero and three strip/tile
    layouts; then bilevel compressions 1/2/4 in both photometrics."""
    rng = random.Random(10)
    layouts = ({}, {"rows_per_strip": 4}, {"tile_size": (16, 32)})
    for i in range(64):
        w, h = _dims(rng, i)
        comp = (1, 5, 8, 32773)[i % 4]
        ch = (1, 3)[(i // 4) % 2]
        kw = dict(layouts[i % 3], byte_order="<>"[(i // 8) % 2],
                  compression=comp, bits=(8, 16)[(i // 16) % 2],
                  predictor=2 if comp != 1 and (i // 2) % 2 else 1,
                  planar=2 if ch == 3 and (i // 3) % 2 else 1)
        if ch == 1 and i % 5 == 0:
            kw["photometric"] = 0
        yield tiffpix.encode_tiff(
            w, h, ch, b"".join(_plane(rng, w, h, i % 3) for _ in range(ch)),
            **kw)
    for i in range(12):
        w, h = _dims(rng, i)
        px = bytes(rng.choice((0, 255)) for _ in range(w * h))
        yield tiffpix.encode_tiff(
            w, h, 1, px, compression=(1, 2, 4)[i % 3], bits=1,
            photometric=(i // 3) % 2, rows_per_strip=(None, 5)[(i // 6)],
            byte_order="<>"[i % 2])


def _tiff_jpeg_outputs():
    """Gray and YCbCr strips and tiles, with and without JPEGTables."""
    rng = random.Random(13)
    layouts = ({}, {"rows_per_strip": 8}, {"tile_size": (16, 16)},
               {"tile_size": (32, 16)})
    for i in range(16):
        w, h = _dims(rng, i)
        ch = (1, 3)[i % 2]
        px = b"".join(_plane(rng, w, h, i % 3) for _ in range(ch))
        yield tiffpix.encode_tiff_jpeg(
            w, h, ch, bytes(px[c * w * h + k] for k in range(w * h)
                            for c in range(ch)),
            byte_order="<>"[(i // 2) % 2], use_jpeg_tables=bool(i // 8),
            **layouts[(i // 2) % 4])


def test_jpeg_lossless_encoder_bytes():
    assert _fold(_lossless_outputs()) == EXPECTED["jpeg_lossless"]


def test_tiff_encoder_bytes():
    assert _fold(_tiff_outputs()) == EXPECTED["tiff"]


def test_tiff_jpeg_encoder_bytes():
    assert _fold(_tiff_jpeg_outputs()) == EXPECTED["tiff_jpeg"]
