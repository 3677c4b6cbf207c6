"""Exact-byte pins for the fixture encoders.

The other codec tests check decode round-trips, which a change to the
entropy stream, the marker layout or the LZW packing can pass while
still moving every payload the oracle pairs read. This file pins the
sha256 of every output of the sequential JPEG encoders (Huffman and
arithmetic, gray, 4:4:4 and subsampled colour) and of both GIF encoders
over a seeded parameter sweep. Each group folds the per-output digests
into one sha256, so a single changed byte in any case fails its group.
"""
import hashlib
import random

import pytest

from docext_spark.core import gifpix
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
