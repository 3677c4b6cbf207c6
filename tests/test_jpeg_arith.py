"""Arithmetic-coded JPEG (SOF9) — core/jpegarith.py via decode_jpeg.

No arithmetic-capable third-party decoder exists in this sandbox (Java
ImageIO rejects SOF9), so the evidence is structural, the same way the
codec family is built: (1) the raw Annex D coder round-trips arbitrary
context/bit streams bit-exactly through carries and 0xFF stuffing,
(2) the Annex F statistical model round-trips arbitrary coefficient
blocks, and (3) the decisive one — arithmetic coding is a LOSSLESS
re-coding of the same quantized coefficients, so a SOF9 file and its
Huffman SOF0 twin built from the same pixels decode to IDENTICAL
output, fuzzed across sizes, samplings, restarts, and DAC conditioning.
"""
import random

from docext_spark.core import jpegpix as J
from docext_spark.core.jpegarith import (_FIXED, ArithScanDecoder,
                                         ArithScanEncoder, _ArithDecoder,
                                         _ArithEncoder, _TAB)


def test_state_table_shape():
    """113 adaptive states + the fixed 0.5 state; transitions stay in
    range; the fixed state only transitions to itself and never
    switches the MPS sense."""
    assert len(_TAB) == 114
    for qe, nl, nm, sw in _TAB:
        assert 1 <= qe <= 0x5B12 and 0 <= nl <= 113 and 0 <= nm <= 113
        assert sw in (0, 1)
    assert _TAB[_FIXED][1] == _TAB[_FIXED][2] == _FIXED
    assert _TAB[_FIXED][3] == 0
    # fast-attack chain: switch states carry the largest Qe estimates
    assert all(_TAB[i][3] == 1 for i in (0, 14, 36, 64))


def test_raw_coder_roundtrip_fuzz():
    rng = random.Random(1)
    for trial in range(80):
        n_ctx = rng.randint(1, 6)
        p = rng.random()
        bits = [(rng.randrange(n_ctx), 1 if rng.random() < p else 0)
                for _ in range(rng.randint(1, 4000))]
        st_e, st_d = bytearray(n_ctx), bytearray(n_ctx)
        if trial % 3 == 0:                  # exercise the fixed state
            st_e[0] = st_d[0] = _FIXED
        enc = _ArithEncoder()
        for ctx, b in bits:
            enc.encode(st_e, ctx, b)
        data = enc.flush()
        dec = _ArithDecoder(data + b"\xff\xd9", 0)
        assert all(dec.decode(st_d, ctx) == b for ctx, b in bits), trial


def test_raw_coder_carry_and_stuffing():
    """A long all-MPS run on a high-Qe state drives C through carries
    and produces 0xFF output bytes — which must come out stuffed and
    still decode."""
    st_e, st_d = bytearray(1), bytearray(1)
    enc = _ArithEncoder()
    bits = [1, 0] * 40 + [0] * 4000
    for b in bits:
        enc.encode(st_e, 0, b)
    data = enc.flush()
    for i, by in enumerate(data[:-1]):      # every 0xFF is stuffed
        assert by != 0xFF or data[i + 1] == 0x00
    dec = _ArithDecoder(data + b"\xff\xd9", 0)
    assert all(dec.decode(st_d, 0) == b for b in bits)


def test_block_model_roundtrip_fuzz():
    rng = random.Random(7)
    for trial in range(40):
        ncomp = rng.choice([1, 3])
        comps = [{"dc": i % 2, "ac": i % 2} for i in range(ncomp)]
        dc_cond = {0: (0, 1), 1: rng.choice([(0, 1), (0, 2), (1, 3)])}
        ac_cond = {0: 5, 1: rng.choice([1, 3, 63])}
        blocks = []
        for _ in range(rng.randint(1, 30)):
            q = [0] * 64
            q[0] = rng.randint(-1000, 1000)
            for _ in range(rng.randint(0, 16)):
                q[rng.randint(1, 63)] = rng.randint(-2000, 2000) or 1
            blocks.append((rng.randrange(ncomp), q))
        enc = ArithScanEncoder(comps, dc_cond, ac_cond)
        for ci, q in blocks:
            enc.encode_block(ci, q)
        dec = ArithScanDecoder(enc.finish() + b"\xff\xd9", 0, comps,
                               dc_cond, ac_cond)
        for ci, q in blocks:
            assert dec.decode_block(ci) == q, trial


def test_cross_coder_gray():
    """decode(SOF9) == decode(SOF0) for the same pixels — restarts and
    DAC conditioning variants included."""
    rng = random.Random(42)
    for trial in range(40):
        w, h = rng.randint(1, 33), rng.randint(1, 33)
        px = bytes(rng.randrange(256) for _ in range(w * h))
        quant = rng.choice([1, 2, 16])
        ri = rng.choice([0, 0, 1, 3])
        base = J.decode_jpeg(J.encode_jpeg_sequential(
            w, h, [px], quant=quant, restart_interval=ri))
        ar = J.decode_jpeg(J.encode_jpeg_sequential(
            w, h, [px], quant=quant, restart_interval=ri, arith=True,
            dc_cond=rng.choice([(0, 1), (0, 2), (1, 3)]),
            kx=rng.choice([5, 1, 63])))
        assert base is not None and base == ar, (trial, w, h, quant, ri)


def test_cross_coder_color_and_subsampled():
    rng = random.Random(43)
    for trial in range(15):
        w, h = rng.randint(1, 25), rng.randint(1, 25)
        pl = [bytes(rng.randrange(256) for _ in range(w * h))
              for _ in range(3)]
        base = J.decode_jpeg(J.encode_jpeg_sequential(w, h, pl))
        ar = J.decode_jpeg(J.encode_jpeg_sequential(w, h, pl, arith=True))
        assert base is not None and base == ar, trial
    for trial in range(15):
        sh, sv = rng.choice([(2, 2), (2, 1), (1, 2)])
        w, h = rng.randint(2, 25), rng.randint(2, 25)
        cw, ch = (w + sh - 1) // sh, (h + sv - 1) // sv
        y = bytes(rng.randrange(256) for _ in range(w * h))
        cb = bytes(rng.randrange(256) for _ in range(cw * ch))
        cr = bytes(rng.randrange(256) for _ in range(cw * ch))
        base = J.decode_jpeg(J.encode_jpeg_sequential(
            w, h, [y, cb, cr], sh=sh, sv=sv))
        ar = J.decode_jpeg(J.encode_jpeg_sequential(
            w, h, [y, cb, cr], sh=sh, sv=sv, arith=True))
        assert base is not None and base == ar, (trial, sh, sv)


def test_cross_coder_color_restart_and_dac():
    """Colour SOF9 with restart intervals and non-default DAC
    conditioning on both statistics areas decodes like its SOF0 twin."""
    rng = random.Random(44)
    for trial in range(12):
        sh, sv = rng.choice([(1, 1), (2, 1), (1, 2), (2, 2)])
        w, h = rng.randint(1, 25), rng.randint(1, 25)
        cw, ch = (w + sh - 1) // sh, (h + sv - 1) // sv
        pl = [bytes(rng.randrange(256) for _ in range(w * h))] + [
            bytes(rng.randrange(256) for _ in range(cw * ch))
            for _ in range(2)]
        ri = rng.choice([1, 2, 3])
        base = J.decode_jpeg(J.encode_jpeg_sequential(
            w, h, pl, sh=sh, sv=sv, quant=4, restart_interval=ri))
        ar = J.decode_jpeg(J.encode_jpeg_sequential(
            w, h, pl, sh=sh, sv=sv, quant=4, restart_interval=ri,
            arith=True, dc_cond=rng.choice([(0, 2), (1, 3)]),
            kx=rng.choice([2, 9])))
        assert base is not None and base == ar, (trial, sh, sv, ri)


def test_dac_conditioning_changes_stream_not_pixels():
    """Non-default DAC L/U/Kx re-bins the statistics (different
    compressed bytes) but decodes to the same image."""
    px = bytes(((x * 7 + y * 13) % 251) for y in range(24) for x in range(24))
    ref = J.decode_jpeg(J.encode_jpeg_sequential(24, 24, [px], quant=2,
                                                 arith=True))
    streams = set()
    for dc_cond, kx in [((0, 1), 5), ((0, 2), 5), ((1, 3), 2),
                        ((0, 0), 63)]:
        f = J.encode_jpeg_sequential(24, 24, [px], quant=2, arith=True,
                                     dc_cond=dc_cond, kx=kx)
        assert J.decode_jpeg(f) == ref
        streams.add(f)
    assert len(streams) == 4                # conditioning is really applied


def test_arith_defensive():
    """Truncations and bit flips return None or a valid tuple — never
    throw, never spin (zero-fed decode past EOF is bounded by the MCU
    walk)."""
    rng = random.Random(5)
    px = bytes(rng.randrange(256) for _ in range(16 * 16))
    good = J.encode_jpeg_sequential(16, 16, [px], quant=2, arith=True)
    for cut in range(0, len(good), 2):
        r = J.decode_jpeg(good[:cut])
        assert r is None or isinstance(r, tuple)
    for _ in range(200):
        b = bytearray(good)
        b[rng.randrange(len(b))] ^= 1 << rng.randrange(8)
        r = J.decode_jpeg(bytes(b))
        assert r is None or isinstance(r, tuple)
    # progressive/lossless arithmetic SOFs stay rejected
    assert J.decode_jpeg(good.replace(b"\xff\xc9", b"\xff\xca", 1)) is None
    # bad DAC values are rejected
    assert J.decode_jpeg(good[:2] + b"\xff\xcc\x00\x04\x10\x00"
                         + good[2:]) is None


def test_arith_compresses():
    """Sanity: on a smooth image the adaptive coder beats the Annex K
    Huffman stream (the reason SOF9 exists)."""
    px = bytes(((x + y) // 4 * 8) % 256 for y in range(64) for x in range(64))
    hf = J.encode_jpeg_sequential(64, 64, [px], quant=2)
    ar = J.encode_jpeg_sequential(64, 64, [px], quant=2, arith=True)
    assert len(ar) < len(hf)
