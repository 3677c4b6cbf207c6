"""Pure-Python WAV waveform decode — stdlib only, no audio libraries.

The audio half of the multimodal decode story (PNG pixels: core/pngpix.py):
a RIFF/WAVE container with integer PCM (8/16/24-bit, plain or
WAVE_FORMAT_EXTENSIBLE 0xFFFE with the SubFormat GUID) needs no codec at
all — the header
is fixed-offset little-endian fields and the data chunk IS the samples —
and IMA ADPCM (format tag 0x11, the classic 4:1 compressed WAV) is pure
integer table math (the published IMA/DVI step + index adaptation, as in
RFC 3551's DVI4 description), so both decode for real here. Perceptual
codecs (mp3/aac/opus — filterbanks, psychoacoustics) remain honestly out
of scope and return None (route to a codec fleet; a 100TB scan must
never die on one blob).

Scope: format tag 1 (integer PCM, 8-bit unsigned or 16-bit signed),
format tag 0x11 (IMA ADPCM, mono or stereo, standard 4-byte-per-channel
block headers), and the G.711 companded telephony codecs — format tag 6
(A-law) and 7 (μ-law), expanded with the canonical segment/mantissa
arithmetic (ITU-T G.711; the formulas below are the public-domain Sun
g711.c expansion, stateless per byte). Everything else → None.
"""
from __future__ import annotations

import struct

# IMA/DVI ADPCM adaptation tables (published constants)
IMA_STEP_TABLE = [
    7, 8, 9, 10, 11, 12, 13, 14, 16, 17, 19, 21, 23, 25, 28, 31, 34, 37,
    41, 45, 50, 55, 60, 66, 73, 80, 88, 97, 107, 118, 130, 143, 157, 173,
    190, 209, 230, 253, 279, 307, 337, 371, 408, 449, 494, 544, 598, 658,
    724, 796, 876, 963, 1060, 1166, 1282, 1411, 1552, 1707, 1878, 2066,
    2272, 2499, 2749, 3024, 3327, 3660, 4026, 4428, 4871, 5358, 5894,
    6484, 7132, 7845, 8630, 9493, 10442, 11487, 12635, 13899, 15289,
    16818, 18500, 20350, 22385, 24623, 27086, 29794, 32767]
IMA_INDEX_TABLE = [-1, -1, -1, -1, 2, 4, 6, 8, -1, -1, -1, -1, 2, 4, 6, 8]


def ima_step(predictor: int, index: int, nibble: int) -> tuple[int, int]:
    """One IMA ADPCM decode step: (new_predictor, new_index). The
    reconstruction uses the shift-add form (step>>3 + conditional
    step>>2/step>>1/step terms) — bit-exact with the IMA reference."""
    step = IMA_STEP_TABLE[index]
    diff = step >> 3
    if nibble & 1:
        diff += step >> 2
    if nibble & 2:
        diff += step >> 1
    if nibble & 4:
        diff += step
    if nibble & 8:
        diff = -diff
    predictor = max(-32768, min(32767, predictor + diff))
    index = max(0, min(88, index + IMA_INDEX_TABLE[nibble & 0xF]))
    return predictor, index


def _decode_ima_block(body: bytes, channels: int):
    """One ADPCM block → per-channel sample lists. Block layout: a 4-byte
    header per channel (predictor s16, index u8, reserved), then data in
    4-byte per-channel interleave groups, low nibble first."""
    if len(body) < 4 * channels:
        return None
    chans = []
    for c in range(channels):
        pred, idx = struct.unpack_from("<hB", body, 4 * c)[0], body[4 * c + 2]
        if idx > 88:
            return None
        chans.append({"pred": pred, "idx": idx, "out": [pred]})
    pos = 4 * channels
    while pos < len(body):
        for c in range(channels):
            if pos + 4 > len(body):
                return None
            st = chans[c]
            for b in body[pos:pos + 4]:
                for nib in (b & 0xF, b >> 4):
                    st["pred"], st["idx"] = ima_step(st["pred"], st["idx"],
                                                     nib)
                    st["out"].append(st["pred"])
            pos += 4
    return [st["out"] for st in chans]


def ulaw_to_linear(code: int) -> int:
    """ITU-T G.711 μ-law expansion, bit-exact with the public-domain Sun
    g711.c ulaw2linear: complement, bias the mantissa, shift by the
    segment, un-bias. Range ±32124 — stateless, so a SQL oracle replays
    it as plain arithmetic per byte."""
    u = ~code & 0xFF
    t = (((u & 0x0F) << 3) + 0x84) << ((u & 0x70) >> 4)
    return (0x84 - t) if (u & 0x80) else (t - 0x84)


def alaw_to_linear(code: int) -> int:
    """ITU-T G.711 A-law expansion (Sun g711.c alaw2linear): XOR 0x55,
    then segment-scaled mantissa with the seg-0/1 special cases. Range
    ±32256; sign bit SET means positive in A-law."""
    a = code ^ 0x55
    t = (a & 0x0F) << 4
    seg = (a & 0x70) >> 4
    if seg == 0:
        t += 8
    elif seg == 1:
        t += 0x108
    else:
        t = (t + 0x108) << (seg - 1)
    return t if (a & 0x80) else -t


def linear_to_ulaw(sample: int) -> int:
    """Sun g711.c linear2ulaw (round-trip fixture side): bias, find the
    segment by magnitude, pack sign/seg/mantissa, complement."""
    sign = 0x80 if sample < 0 else 0
    mag = min((-sample if sample < 0 else sample) + 0x84, 0x7FFF)
    # the biased decode magnitude ((mant<<3)+0x84)<<seg always has its top
    # bit at position 7+seg, so the segment is just the bit length
    seg = max(0, min(7, mag.bit_length() - 8))
    return (~(sign | (seg << 4) | ((mag >> (seg + 3)) & 0x0F))) & 0xFF


def linear_to_alaw(sample: int) -> int:
    """Sun g711.c linear2alaw (round-trip fixture side)."""
    sign = 0x80 if sample >= 0 else 0
    mag = min(sample if sample >= 0 else -sample - 1, 0x7FFF)
    if mag < 0x100:
        code = mag >> 4
    else:
        seg = 1
        while mag >= (0x100 << seg) and seg < 7:
            seg += 1
        code = (seg << 4) | ((mag >> (seg + 3)) & 0x0F)
    return (sign | code) ^ 0x55


def decode_wav(payload: bytes | None):
    """(sample_rate, n_channels, bits, samples) with ``samples`` the
    interleaved integer samples (16-bit: signed, 8-bit: centered by -128
    so both widths yield zero-mean-style values), or None."""
    if not payload or len(payload) < 12 or payload[:4] != b"RIFF" \
            or payload[8:12] != b"WAVE":
        return None
    pos, n = 12, len(payload)
    rate = channels = bits = fmt = None
    block_align = 0
    data = None
    while pos + 8 <= n:
        cid = payload[pos:pos + 4]
        (ln,) = struct.unpack("<I", payload[pos + 4:pos + 8])
        body = payload[pos + 8:pos + 8 + ln]
        if len(body) < ln:
            return None
        if cid == b"fmt ":
            if ln < 16:
                return None
            fmt, channels, rate = struct.unpack("<HHI", body[:8])
            block_align = struct.unpack("<H", body[12:14])[0]
            bits = struct.unpack("<H", body[14:16])[0]
            if fmt == 0xFFFE:            # WAVE_FORMAT_EXTENSIBLE
                # cbSize(2) + wValidBits(2) + dwChannelMask(4) + GUID:
                # the real format tag is the GUID's first 16 bits
                if ln < 40:
                    return None
                fmt = struct.unpack("<H", body[24:26])[0]
                if fmt == 0xFFFE:
                    return None          # nested extensible: corrupt
            if fmt == 1:
                if bits not in (8, 16, 24):
                    return None
            elif fmt == 0x11:
                if bits != 4:
                    return None
            elif fmt in (6, 7):          # G.711 A-law / μ-law
                if bits != 8:
                    return None
            else:
                return None              # perceptual codecs: honest None
        elif cid == b"data":
            data = body
        pos += 8 + ln + (ln & 1)        # RIFF chunks are word-aligned
    # `not rate` (not `rate is None`): a crafted fmt chunk with
    # sample_rate=0 must be rejected here, or downstream duration math
    # (n_frames * 1000 // rate) divides by zero inside a Spark task
    if not rate or data is None or not channels:
        return None
    if fmt == 0x11:
        if not (1 <= channels <= 2) or block_align < 4 * channels:
            return None
        per_chan: list[list[int]] = [[] for _ in range(channels)]
        for off in range(0, len(data), block_align):
            block = data[off:off + block_align]
            dec = _decode_ima_block(block, channels)
            if dec is None:
                return None
            for c in range(channels):
                per_chan[c].extend(dec[c])
        samples = []
        for frame in zip(*per_chan):
            samples.extend(frame)
        return (rate, channels, 4, samples)
    if fmt in (6, 7):
        # stateless per-byte expansion; channel interleave is preserved
        # byte-for-byte (one code per channel per frame)
        if len(data) % channels:
            return None
        expand = alaw_to_linear if fmt == 6 else ulaw_to_linear
        return (rate, channels, 8, [expand(b) for b in data])
    if bits == 16:
        if len(data) % 2:
            return None
        samples = list(struct.unpack(f"<{len(data) // 2}h", data))
    elif bits == 24:
        if len(data) % 3:
            return None
        samples = [
            int.from_bytes(data[k:k + 3], "little", signed=True)
            for k in range(0, len(data), 3)]
    else:
        samples = [b - 128 for b in data]
    return (rate, channels, bits, samples)


def wav_features(payload: bytes | None, checksum_offset: int = 32768):
    """Analytic waveform features from a real decode, or None:
    (sample_rate, n_channels, n_frames, duration_ms, peak, zero_crossings,
    amp_checksum). All pure integer arithmetic so a SQL oracle can replay
    them from the sample generator without parsing a byte."""
    return pcm_features(decode_wav(payload), checksum_offset)


def pcm_features(dec, checksum_offset: int = 32768):
    """The wav_features fold over any lossless decoder's
    (rate, channels, bits, samples) result, or None for None."""
    if dec is None:
        return None
    rate, channels, _, samples = dec
    n_frames = len(samples) // channels
    duration_ms = n_frames * 1000 // rate
    peak = max((abs(s) for s in samples), default=0)
    # zero crossings are a PER-CHANNEL physical signal: compare each
    # sample against the previous frame's sample of the SAME channel
    # (stride = channels), or a stereo file with constant L=+x / R=-x
    # would count a bogus crossing at every interleaved boundary
    zc = sum(1 for i in range(channels, len(samples))
             if samples[i - channels] * samples[i] < 0)
    # integrity checksum over the interleaved stream as stored (an exact
    # decode invariant, not a physical metric)
    checksum = sum((s + checksum_offset) * (i + 1)
                   for i, s in enumerate(samples))
    return (rate, channels, n_frames, duration_ms, peak, zc, checksum)


def _wav_container(fmt_body: bytes, data: bytes) -> bytes:
    return (b"RIFF" + struct.pack("<I", 28 + len(fmt_body) + len(data))
            + b"WAVE" + b"fmt " + struct.pack("<I", len(fmt_body))
            + fmt_body + b"data" + struct.pack("<I", len(data)) + data)


def ima_encode_nibble(predictor: int, index: int, sample: int) -> int:
    """IMA reference quantizer: the nibble whose decode step tracks
    ``sample`` from (predictor, index)."""
    step = IMA_STEP_TABLE[index]
    diff = sample - predictor
    nibble = 0
    if diff < 0:
        nibble = 8
        diff = -diff
    if diff >= step:
        nibble |= 4
        diff -= step
    if diff >= step >> 1:
        nibble |= 2
        diff -= step >> 1
    if diff >= step >> 2:
        nibble |= 1
    return nibble


def encode_wav_adpcm(rate: int, samples: list[int],
                     block_samples: int = 505) -> bytes:
    """Fixture/test builder: mono IMA ADPCM WAV from 16-bit samples (the
    REAL lossy encoder — quantize, then track the decoder's own
    reconstruction). ``block_samples`` must be 1 + a multiple of 8 so
    blocks end on 4-byte group boundaries (standard: 505 → block_align
    256)."""
    if (block_samples - 1) % 8:
        raise ValueError("block_samples must be 1 + multiple of 8")
    block_align = 4 + (block_samples - 1) // 2
    data = bytearray()
    pred, idx = 0, 0
    i = 0
    n = len(samples)
    while i < n:
        chunk = samples[i:i + block_samples]
        # block header carries the first sample verbatim + current index
        pred = max(-32768, min(32767, chunk[0]))
        data += struct.pack("<hBB", pred, idx, 0)
        nibbles = []
        for s in chunk[1:]:
            nib = ima_encode_nibble(pred, idx, s)
            pred, idx = ima_step(pred, idx, nib)
            nibbles.append(nib)
        while len(nibbles) % 8:
            nib = ima_encode_nibble(pred, idx, pred)   # pad: hold level
            pred, idx = ima_step(pred, idx, nib)
            nibbles.append(nib)
        for j in range(0, len(nibbles), 2):
            data.append(nibbles[j] | (nibbles[j + 1] << 4))
        i += block_samples
    fmt = struct.pack("<HHIIHHHH", 0x11, 1, rate,
                      rate * block_align // block_samples or 1,
                      block_align, 4, 2, block_samples)
    return _wav_container(fmt, bytes(data))


def encode_wav_adpcm_raw(rate: int, nibbles: list[int], init_pred: int = 0,
                         init_index: int = 0) -> bytes:
    """Mono single-block ADPCM WAV carrying EXACTLY these nibbles (len a
    multiple of 8) — the oracle-fixture builder: an analytic nibble rule
    goes in, and the SQL twin replays the published decode state machine
    over the same rule without touching a byte."""
    if len(nibbles) % 8:
        raise ValueError("nibble count must be a multiple of 8")
    block_align = 4 + len(nibbles) // 2
    data = bytearray(struct.pack("<hBB", init_pred, init_index, 0))
    for j in range(0, len(nibbles), 2):
        data.append((nibbles[j] & 0xF) | ((nibbles[j + 1] & 0xF) << 4))
    fmt = struct.pack("<HHIIHHHH", 0x11, 1, rate, rate, block_align, 4, 2,
                      len(nibbles) + 1)
    return _wav_container(fmt, bytes(data))


def encode_wav_g711(rate: int, channels: int, codes: list[int],
                    law: str = "ulaw") -> bytes:
    """Fixture/test builder: a G.711 WAV (format tag 7 μ-law / 6 A-law)
    carrying EXACTLY these code bytes — like encode_wav_adpcm_raw, an
    analytic code rule goes in and the SQL twin replays the stateless
    expansion arithmetic per byte."""
    tag = 7 if law == "ulaw" else 6
    if len(codes) % channels:
        raise ValueError("code count must be a multiple of channels")
    fmt = struct.pack("<HHIIHH", tag, channels, rate, rate * channels,
                      channels, 8)
    return _wav_container(fmt, bytes(c & 0xFF for c in codes))


def encode_wav(rate: int, channels: int, samples: list[int],
               bits: int = 16, extensible: bool = False) -> bytes:
    """Fixture/test builder: a fully valid RIFF/WAVE PCM file (8/16/24
    bit). ``extensible`` wraps the format in WAVE_FORMAT_EXTENSIBLE
    (tag 0xFFFE with the PCM SubFormat GUID) — the container modern
    encoders emit for >2 channels or >16 bits."""
    if bits == 16:
        data = struct.pack(f"<{len(samples)}h", *samples)
    elif bits == 8:
        data = bytes((s + 128) & 0xFF for s in samples)
    elif bits == 24:
        data = b"".join(int(s).to_bytes(3, "little", signed=True)
                        for s in samples)
    else:
        raise ValueError("bits must be 8, 16 or 24")
    block = channels * bits // 8
    fmt = struct.pack("<HHIIHH", 0xFFFE if extensible else 1, channels,
                      rate, rate * block, block, bits)
    if extensible:
        # cbSize=22, wValidBits=bits, channel mask 0, KSDATAFORMAT_
        # SUBTYPE_PCM GUID ({00000001-0000-0010-8000-00aa00389b71})
        fmt += struct.pack("<HHI", 22, bits, 0)
        fmt += bytes((0x01, 0x00, 0x00, 0x00, 0x00, 0x00, 0x10, 0x00,
                      0x80, 0x00, 0x00, 0xAA, 0x00, 0x38, 0x9B, 0x71))
    return _wav_container(fmt, data)
