"""WAV/PCM waveform decode (core/wavpcm.py): encode↔decode roundtrips,
defensive edges, and the audio_features operator over natively-built
payloads."""
from __future__ import annotations

from pyspark.sql import functions as F

from docext_spark.core import wavpcm


def _saw(n, seed=0):
    return [((i * 997 + seed * 11) % 4096) - 2048 for i in range(n)]


def test_roundtrip_16bit_mono():
    s = _saw(300)
    out = wavpcm.decode_wav(wavpcm.encode_wav(8000, 1, s))
    assert out == (8000, 1, 16, s)


def test_roundtrip_16bit_stereo_and_8bit():
    s = _saw(200, seed=3)
    assert wavpcm.decode_wav(wavpcm.encode_wav(44100, 2, s)) \
        == (44100, 2, 16, s)
    s8 = [v % 256 - 128 for v in s]
    assert wavpcm.decode_wav(wavpcm.encode_wav(16000, 1, s8, bits=8)) \
        == (16000, 1, 8, s8)


def test_defensive_returns_none():
    good = wavpcm.encode_wav(8000, 1, _saw(50))
    assert wavpcm.decode_wav(None) is None
    assert wavpcm.decode_wav(b"") is None
    assert wavpcm.decode_wav(b"RIFFjunkjunk") is None
    assert wavpcm.decode_wav(good[:20]) is None          # truncated
    # non-PCM format tag rejected (compressed audio is codec territory)
    bad = bytearray(good)
    bad[20] = 3                                          # fmt tag -> float
    assert wavpcm.decode_wav(bytes(bad)) is None
    # 24-bit rejected
    deep = bytearray(good)
    deep[34] = 24
    assert wavpcm.decode_wav(bytes(deep)) is None


def test_wav_features_analytic():
    s = _saw(100, seed=7)
    f = wavpcm.wav_features(wavpcm.encode_wav(8000, 1, s))
    rate, ch, n_frames, dur, peak, zc, cs = f
    assert (rate, ch, n_frames, dur) == (8000, 1, 100, 100 * 1000 // 8000)
    assert peak == max(abs(v) for v in s)
    assert zc == sum(1 for i in range(1, 100) if s[i - 1] * s[i] < 0) > 0
    assert cs == sum((v + 32768) * (i + 1) for i, v in enumerate(s))


def test_zero_crossings_are_per_channel():
    """Review r4: interleaved counting saw a bogus crossing at every L/R
    boundary of a stereo file. Constant L=+100 / R=-100 has ZERO physical
    crossings; a genuinely alternating mono signal keeps its count."""
    stereo = [100, -100] * 50
    f = wavpcm.wav_features(wavpcm.encode_wav(8000, 2, stereo))
    assert f[1] == 2 and f[5] == 0          # channels=2, zero_crossings=0
    mono_alt = [100 if i % 2 == 0 else -100 for i in range(100)]
    f2 = wavpcm.wav_features(wavpcm.encode_wav(8000, 1, mono_alt))
    assert f2[5] == 99
    # per-channel crossings in a stereo file are still counted
    stereo_x = [100, 7, -100, 7] * 25       # L alternates, R constant +7
    f3 = wavpcm.wav_features(wavpcm.encode_wav(8000, 2, stereo_x))
    assert f3[5] == 49


def test_audio_features_operator_native_fixture(spark):
    from docext_spark.operators.multimodal import (audio_features,
                                                   wav_pcm_fixture_hex)
    media = spark.range(6).select(
        F.col("id").alias("media_id"),
        F.unhex(wav_pcm_fixture_hex(
            F.col("id"), (F.lit(50) + F.col("id") % 200).cast("int")))
         .alias("payload"))
    got = {r["media_id"]: r for r in audio_features(media).collect()}
    for seed in range(6):
        s = _saw(50 + seed % 200, seed)
        r = got[seed]
        assert (r["sample_rate"], r["n_channels"]) == (8000, 1)
        assert r["n_frames"] == len(s)
        assert r["peak"] == max(abs(v) for v in s)
        assert r["zero_crossings"] == sum(
            1 for i in range(1, len(s)) if s[i - 1] * s[i] < 0)
        assert r["amp_checksum"] == sum(
            (v + 32768) * (i + 1) for i, v in enumerate(s))


def test_audio_features_undecodable_yields_nulls(spark):
    import pandas as pd
    from docext_spark.operators.multimodal import audio_features
    media = spark.createDataFrame(
        pd.DataFrame([(0, b"not audio"), (1, None)],
                     columns=["media_id", "payload"]),
        "media_id long, payload binary")
    got = audio_features(media).collect()
    assert all(r["sample_rate"] is None and r["amp_checksum"] is None
               for r in got)


def test_audio_features_out_of_int32_yields_nulls(spark):
    """A sample rate of 0xFFFFFFFF, or a duration past 2**31-1 ms (rate 1
    with 2.2M frames), nulls that cell instead of failing the task."""
    import struct

    import pandas as pd
    from docext_spark.operators.multimodal import audio_features
    b = bytearray(wavpcm.encode_wav(8000, 1, [1, -1, 2]))
    b[24:28] = struct.pack("<I", 0xFFFFFFFF)   # fmt sample_rate
    slow = wavpcm.encode_wav(1, 1, [0] * 2_200_000, bits=8)
    media = spark.createDataFrame(
        pd.DataFrame([(0, bytes(b)), (1, slow)],
                     columns=["media_id", "payload"]),
        "media_id long, payload binary")
    got = {r["media_id"]: r for r in audio_features(media).collect()}
    assert got[0]["sample_rate"] is None
    assert (got[0]["n_frames"], got[0]["duration_ms"]) == (3, 0)
    assert (got[1]["sample_rate"], got[1]["n_frames"]) == (1, 2_200_000)
    assert got[1]["duration_ms"] is None


def test_zero_sample_rate_rejected():
    """A crafted fmt chunk with sample_rate=0 must decode to None, never
    reach duration math (ADVICE r4: ZeroDivisionError escaped the scan)."""
    import struct

    from docext_spark.core import wavpcm
    b = bytearray(wavpcm.encode_wav(8000, 1, [1, -1, 2]))
    # sample_rate lives at fmt-body offset 4 -> file offset 12+8+4 = 24
    b[24:28] = struct.pack("<I", 0)
    assert wavpcm.decode_wav(bytes(b)) is None
    assert wavpcm.wav_features(bytes(b)) is None


# ---- IMA ADPCM (format 0x11) ---------------------------------------------

def test_ima_step_hand_trace():
    """Two hand-computed IMA steps (published shift-add reconstruction):
    from (0, 0) step=7: nibble 5 (|4,|1) -> diff 7+1=8... full trace in
    comments, independent of the implementation."""
    from docext_spark.core import wavpcm
    # step=7: diff = 7>>3 + (bit1? 7>>2) + (bit2? 7>>1) + (bit4? 7)
    # nibble 5 = 0b0101: 0 + 1 + 0 + 7 = 8; idx += index_table[5]=4
    assert wavpcm.ima_step(0, 0, 5) == (8, 4)
    # from (8, 4) step=11: nibble 13 = 0b1101: -(1 + 2 + 11) = -14;
    # pred 8-14=-6; idx 4+4=8
    assert wavpcm.ima_step(8, 4, 13) == (-6, 8)
    # clamping: predictor pegs at -32768 (index_table[15] = +8)
    assert wavpcm.ima_step(-32760, 0, 15) == (-32768, 8)
    # index clamps low: index_table[0] = -1 from index 0 stays 0
    assert wavpcm.ima_step(0, 0, 0)[1] == 0
    # index clamps high at 88
    assert wavpcm.ima_step(0, 88, 4)[1] == 88


def test_adpcm_raw_nibbles_decode_exactly():
    """encode_wav_adpcm_raw carries an analytic nibble stream verbatim;
    decode must equal the pure state-machine fold (the construction the
    audio_adpcm_features oracle replays in SQL)."""
    from docext_spark.core import wavpcm
    nibs = [(5 * k + 7) % 16 for k in range(48)]
    enc = wavpcm.encode_wav_adpcm_raw(8000, nibs, init_pred=-500,
                                      init_index=30)
    dec = wavpcm.decode_wav(enc)
    assert dec is not None and dec[:3] == (8000, 1, 4)
    pred, idx = -500, 30
    expect = [pred]
    for nb in nibs:
        pred, idx = wavpcm.ima_step(pred, idx, nb)
        expect.append(pred)
    assert dec[3] == expect


def test_adpcm_encoder_roundtrip_snr():
    """The real lossy encoder tracks a sine at the codec's expected
    fidelity (IMA 4-bit: >20 dB SNR) across multiple blocks, and output
    length covers all input samples plus block padding."""
    import math

    from docext_spark.core import wavpcm
    rate = 8000
    s = [int(12000 * math.sin(2 * math.pi * 440 * t / rate))
         for t in range(2000)]
    r, ch, bits, out = wavpcm.decode_wav(wavpcm.encode_wav_adpcm(rate, s))
    assert (r, ch, bits) == (rate, 1, 4) and len(out) >= len(s)
    err = [a - b for a, b in zip(s, out)]
    snr = 10 * math.log10(sum(v * v for v in s)
                          / max(1, sum(e * e for e in err)))
    assert snr > 20


def test_adpcm_stereo_block_interleave():
    """Stereo blocks carry a 4-byte header per channel then alternating
    4-byte nibble groups; frames come out channel-interleaved."""
    import struct

    from docext_spark.core import wavpcm
    body = (struct.pack("<hBB", 10, 0, 0) + struct.pack("<hBB", -10, 5, 0)
            + bytes([0x11] * 4) + bytes([0x88] * 4))
    fmt = struct.pack("<HHIIHHHH", 0x11, 2, 8000, 8000, len(body), 4, 2, 9)
    payload = wavpcm._wav_container(fmt, body)
    r, ch, bits, samples = wavpcm.decode_wav(payload)
    assert (r, ch) == (8000, 2)
    left = samples[0::2]
    right = samples[1::2]
    assert left[0] == 10 and right[0] == -10
    # nibble 1 from (10, 0): step 7 -> diff 0 + 1 (7>>2) = ... 7>>3 + 7>>2
    # = 0 + 1 = 1 upward each step on the left channel
    assert left[1] == 11
    # nibble 8 is -0-ish: diff = -(step>>3) -> right drifts down
    assert right[1] <= -10


def test_adpcm_defensive():
    from docext_spark.core import wavpcm
    good = wavpcm.encode_wav_adpcm_raw(8000, [1] * 16)
    # bad index in block header (>88)
    import struct
    bad = bytearray(good)
    off = good.index(b"data") + 8 + 2
    bad[off] = 100
    assert wavpcm.decode_wav(bytes(bad)) is None
    # truncated data chunk: handled by the RIFF walk
    assert wavpcm.decode_wav(good[:-3]) is None
    # unsupported perceptual codec tag
    mp3ish = bytearray(good)
    tag = good.index(b"fmt ") + 8
    mp3ish[tag:tag + 2] = struct.pack("<H", 0x55)
    assert wavpcm.decode_wav(bytes(mp3ish)) is None


# ---------------------------------------------------------------- G.711


def test_g711_known_vectors():
    # spec endpoints (ITU-T G.711 / Sun g711.c): mu-law 0x00 is the most
    # negative code, 0xFF/0x7F both decode to zero; A-law 0x55/0xD5 are
    # the +/-8 codes and 0x2A/0xAA the extremes
    assert wavpcm.ulaw_to_linear(0x00) == -32124
    assert wavpcm.ulaw_to_linear(0xFF) == 0
    assert wavpcm.ulaw_to_linear(0x7F) == 0
    assert wavpcm.ulaw_to_linear(0x80) == 32124
    assert wavpcm.alaw_to_linear(0x55) == -8
    assert wavpcm.alaw_to_linear(0xD5) == 8
    assert wavpcm.alaw_to_linear(0x2A) == -32256
    assert wavpcm.alaw_to_linear(0xAA) == 32256


def test_g711_code_roundtrip_exhaustive():
    # every code survives decode->encode, except mu-law negative zero
    # 0x7F which canonically collapses onto positive zero 0xFF
    for c in range(256):
        expect = 0xFF if c == 0x7F else c
        assert wavpcm.linear_to_ulaw(wavpcm.ulaw_to_linear(c)) == expect
        assert wavpcm.linear_to_alaw(wavpcm.alaw_to_linear(c)) == c


def test_g711_monotone_expansion():
    # both laws must expand monotonically in the linear domain once codes
    # are sorted by their decoded value (sanity on segment arithmetic)
    u = sorted(wavpcm.ulaw_to_linear(c) for c in range(256))
    a = sorted(wavpcm.alaw_to_linear(c) for c in range(256))
    assert u[0] == -32124 and u[-1] == 32124
    assert a[0] == -32256 and a[-1] == 32256
    # mu-law has one duplicated zero (0x7F/0xFF), A-law all distinct
    assert len(set(u)) == 255
    assert len(set(a)) == 256


def test_g711_wav_decode_both_laws_and_interleave():
    pay = wavpcm.encode_wav_g711(8000, 2, [0x00, 0xFF, 0x55, 0xAA], "ulaw")
    rate, ch, bits, samples = wavpcm.decode_wav(pay)
    assert (rate, ch, bits) == (8000, 2, 8)
    assert samples == [wavpcm.ulaw_to_linear(c)
                       for c in (0x00, 0xFF, 0x55, 0xAA)]
    pay = wavpcm.encode_wav_g711(8000, 1, [0x55, 0xD5, 0x2A], "alaw")
    assert wavpcm.decode_wav(pay)[3] == [-8, 8, -32256]


def test_g711_features_and_defensive():
    # alternating +-8 A-law codes: one crossing per adjacent pair
    pay = wavpcm.encode_wav_g711(8000, 1, [0x55, 0xD5] * 8, "alaw")
    rate, ch, n_frames, dur, peak, zc, cs = wavpcm.wav_features(pay)
    assert (rate, ch, n_frames, peak, zc) == (8000, 1, 16, 8, 15)
    # G.711 requires 8-bit codes: a 16-bit claim is rejected
    import struct
    bad = bytearray(pay)
    off = pay.index(b"fmt ") + 8 + 14
    bad[off:off + 2] = struct.pack("<H", 16)
    assert wavpcm.decode_wav(bytes(bad)) is None
    # data length not a multiple of channels
    stereo = wavpcm.encode_wav_g711(8000, 2, [1, 2, 3, 4], "ulaw")
    trunc = bytearray(stereo)
    dlen_off = stereo.index(b"data") + 4
    trunc[dlen_off:dlen_off + 4] = struct.pack("<I", 3)
    assert wavpcm.decode_wav(bytes(trunc[:dlen_off + 4 + 3])) is None


# A 500-sample 24-bit mono WAV written by Java 17 javax.sound.sampled
# (AudioSystem.write, PCM_SIGNED little-endian) — pins cross-ecosystem
# bit-compat of the 3-byte sample unpack
_JAVA_WAV24 = (
    "UklGRgAGAABXQVZFZm10IBAAAAABAAEAQB8AAMBdAAADABgAZGF0YdwFAAANvvAC5fD3"
    "C/HsMvHhWfHWgPHLp/HAzvG19fGqHPKfQ/KUavKJkfJ+uPJz3/JoBvNdLfNSVPNHe/M8"
    "ovMxyfMm8PMbF/QQPvQFZfT6i/TvsvTk2fTZAPXOJ/XDTvW4dfWtnPWiw/WX6vWMEfaB"
    "OPZ2X/ZrhvZgrfZV1PZK+/Y/Ivc0SfcpcPcel/cTvvcI5ff9C/jyMvjnWfjcgPjRp/jG"
    "zvi79fiwHPmlQ/maavmPkfmEuPl53/luBvpjLfpYVPpNe/pCovo3yfos8PohF/sWPvsL"
    "ZfsAjPv1svvq2fvfAPzUJ/zJTvy+dfyznPyow/yd6vySEf2HOP18X/1xhv1mrf1b1P1Q"
    "+/1FIv46Sf4vcP4kl/4Zvv4O5f4DDP/4Mv/tWf/igP/Xp//Mzv/B9f+2HACrQwCgagCV"
    "kQCKuAB/3wB0BgFpLQFeVAFTewFIogE9yQEy8AEnFwIcPgIRZQIGjAL7sgLw2QLlAAPa"
    "JwPPTgPEdQO5nAOuwwOj6gOYEQSNOASCXwR3hgRsrQRh1ARW+wRLIgVASQU1cAUqlwUf"
    "vgUU5QUJDAb+MgbzWQbogAbdpwbSzgbH9Qa8HAexQwemagebkQeQuAeF3wd6BghvLQhk"
    "VAhZewhOoghDyQg48AgtFwkiPgkXZQkMjAkBswn22QnrAArgJwrVTgrKdQq/nAq0wwqp"
    "6gqeEQuTOAuIXwt9hgtyrQtn1Atc+wtRIgxGSQw7cAwwlwwlvgwa5QwPDA0EMw35WQ3u"
    "gA3jpw3Yzg3N9Q3CHA63Qw6sag6hkQ6WuA6L3w6ABg91LQ/qz/Df9vDUHfHJRPG+a/Gz"
    "kvGoufGd4PGSB/KHLvJ8VfJxfPJmo/JbyvJQ8fJFGPM6P/MvZvMkjfMZtPMO2/MDAvT4"
    "KPTtT/TidvTXnfTMxPTB6/S2EvWrOfWgYPWVh/WKrvV/1fV0/PVpI/ZeSvZTcfZImPY9"
    "v/Yy5vYnDfccNPcRW/cGgvf7qPfwz/fl9vfaHfjPRPjEa/i5kviuufij4PiYB/mNLvmC"
    "Vfl3fPlso/lhyvlW8flLGPpAP/o1ZvoqjfoftPoU2/oJAvv+KPvzT/vodvvdnfvSxPvH"
    "6/u8EvyxOfymYPybh/yQrvyF1fx6/PxvI/1kSv1Zcf1OmP1Dv/045v0tDf4iNP4XW/4M"
    "gv4Bqf72z/7r9v7gHf/VRP/Ka/+/kv+0uf+p4P+eBwCTLgCIVQB9fAByowBnygBc8QBR"
    "GAFGPwE7ZgEwjQEltAEa2wEPAgIEKQL5TwLudgLjnQLYxALN6wLCEgO3OQOsYAOhhwOW"
    "rgOL1QOA/AN1IwRqSgRfcQRUmARJvwQ+5gQzDQUoNAUdWwUSggUHqQX8zwXx9gXmHQbb"
    "RAbQawbFkga6uQav4AakBweZLgeOVQeDfAd4owdtygdi8QdXGAhMPwhBZgg2jQgrtAgg"
    "2wgVAgkKKQn/Twn0dgnpnQnexAnT6wnIEgq9OQqyYAqnhwqcrgqR1QqG/Ap7IwtwSgtl"
    "cQtamAtPvwtE5gs5DQwuNAwjWwwYggwNqQwC0Az39gzsHQ3hRA3Waw3Lkg3AuQ214A2q"
    "Bw6fLg6UVQ6JfA5+ow5zyg5o8Q5dGA9SPw/H4fC8CPGxL/GmVvGbffGQpPGFy/F68vFv"
    "GfJkQPJZZ/JOjvJDtfI43PItA/MiKvMXUfMMePMBn/P2xfPr7PPgE/TVOvTKYfS/iPS0"
    "r/Sp1vSe/fSTJPWIS/V9cvVymfVnwPVc5/VRDvZGNfY7XPYwg/YlqvYa0fYP+PYEH/f5"
    "RffubPfjk/fYuvfN4ffCCPi3L/isVvihffiWpPiLy/iA8vh1GflqQPlfZ/lUjvlJtfk+"
    "3PkzA/ooKvodUfoSePoHn/r8xfrx7PrmE/vbOvvQYfvFiPu6r/uv1vuk/fuZJPyOS/yD"
    "cvx4mfxtwPxi5/xXDv1MNf1BXP02g/0rqv0g0f0V+P0KH/7/Rf70bP7pk/7euv7T4f7I"
    "CP+9L/+yVv+nff+cpP8="
)


def test_java_24bit_wav_decodes_exact():
    import base64 as _b
    exp = [((i * 9973 + 77) % 2000000) - 1000000 for i in range(500)]
    assert wavpcm.decode_wav(_b.b64decode(_JAVA_WAV24)) == (8000, 1, 24, exp)


def test_24bit_and_extensible_roundtrip():
    """24-bit PCM (3-byte signed LE) and WAVE_FORMAT_EXTENSIBLE (tag
    0xFFFE, real format in the SubFormat GUID's first 16 bits) — the
    container modern encoders emit for >16 bits."""
    import random as _r
    _r.seed(5)
    for bits in (8, 16, 24):
        for ch in (1, 2):
            for ext in (False, True):
                lim = 1 << (bits - 1)
                s = [_r.randrange(-lim, lim) for _ in range(ch * 120)]
                p = wavpcm.encode_wav(8000, ch, s, bits=bits,
                                      extensible=ext)
                assert wavpcm.decode_wav(p) == (8000, ch, bits, s)


def test_extensible_defensive():
    """A truncated extensible fmt chunk (claims 0xFFFE but no GUID) and
    a nested-extensible GUID both reject."""
    import struct as _s
    good = wavpcm.encode_wav(8000, 1, [0, 1, -1], bits=16,
                             extensible=True)
    # truncate the fmt chunk body to 16 bytes while keeping tag 0xFFFE
    b = bytearray(wavpcm.encode_wav(8000, 1, [0, 1, -1], bits=16))
    b[20:22] = _s.pack("<H", 0xFFFE)
    assert wavpcm.decode_wav(bytes(b)) is None
    # nested extensible: GUID format tag 0xFFFE
    b = bytearray(good)
    b[44:46] = _s.pack("<H", 0xFFFE)
    assert wavpcm.decode_wav(bytes(b)) is None
