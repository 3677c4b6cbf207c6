"""Pure-Python FLAC decode (+ spec-faithful encoder for fixtures) —
stdlib only, no libFLAC.

Format per the published FLAC specification (RFC 9639 / xiph.org
format doc): ``fLaC`` magic, metadata blocks (STREAMINFO required),
then frames — 14-bit sync, block-size/sample-rate/channel-assignment/
sample-size codes, UTF-8-coded frame number, CRC-8 header + CRC-16
frame. Subframes: CONSTANT, VERBATIM, FIXED (orders 0-4, the published
polynomial predictors), LPC (orders 1-32, quantized coefficients with
arithmetic-shift), Rice/Rice2 partitioned residuals with the raw-bits
escape, wasted-bits shift, and the three stereo decorrelations
(left/side, right/side, mid/side).

Both CRCs are verified on decode — a corrupt frame yields None, never
an exception or garbage samples (the 100 TB posture shared by every
codec in core/).

Output convention matches core/wavpcm.decode_wav: (sample_rate,
n_channels, bits_per_sample, interleaved integer samples).

Reference parity: the reference treats media as opaque payloads decoded
by libraries (reference docext/core/utils.py:13-15); this engine decodes
the bytes itself. Compressed PERCEPTUAL audio (mp3/aac) stays an honest
None — FLAC is lossless, so exact integer invariants survive for the
analytic oracle.
"""
from __future__ import annotations

import hashlib

from docext_spark.core import wavpcm

# decode-bomb guard: a handful of tiny CONSTANT frames can claim 65535
# samples each; bound the total expansion like MAX_PIXELS in the image
# decoders
MAX_SAMPLES = 8_000_000

_BLOCK_SIZE_CODE = {1: 192, 2: 576, 3: 1152, 4: 2304, 5: 4608,
                    8: 256, 9: 512, 10: 1024, 11: 2048, 12: 4096,
                    13: 8192, 14: 16384, 15: 32768}
_SAMPLE_RATE_CODE = {1: 88200, 2: 176400, 3: 192000, 4: 8000, 5: 16000,
                     6: 22050, 7: 24000, 8: 32000, 9: 44100, 10: 48000,
                     11: 96000}
_SAMPLE_SIZE_CODE = {1: 8, 2: 12, 4: 16, 5: 20, 6: 24, 7: 32}

_FIXED_COEFFS = {0: [], 1: [1], 2: [2, -1], 3: [3, -3, 1],
                 4: [4, -6, 4, -1]}


def _crc8(data: bytes) -> int:
    """CRC-8, poly x^8+x^2+x+1 (0x07), init 0 — frame-header CRC."""
    crc = 0
    for b in data:
        crc ^= b
        for _ in range(8):
            crc = ((crc << 1) ^ 0x07) & 0xFF if crc & 0x80 \
                else (crc << 1) & 0xFF
    return crc


def _crc16(data: bytes) -> int:
    """CRC-16, poly x^16+x^15+x^2+1 (0x8005), init 0 — whole-frame CRC."""
    crc = 0
    for b in data:
        crc ^= b << 8
        for _ in range(8):
            crc = ((crc << 1) ^ 0x8005) & 0xFFFF if crc & 0x8000 \
                else (crc << 1) & 0xFFFF
    return crc


class _Bits:
    __slots__ = ("data", "pos")

    def __init__(self, data: bytes, pos: int = 0):
        self.data = data
        self.pos = pos                    # bit position

    def u(self, n: int) -> int | None:
        """n-bit big-endian unsigned, None past end."""
        end = self.pos + n
        if end > len(self.data) * 8:
            return None
        v = 0
        pos = self.pos
        while n:
            byte = self.data[pos >> 3]
            avail = 8 - (pos & 7)
            take = min(avail, n)
            v = (v << take) | ((byte >> (avail - take)) & ((1 << take) - 1))
            pos += take
            n -= take
        self.pos = pos
        return v

    def s(self, n: int) -> int | None:
        v = self.u(n)
        if v is None:
            return None
        return v - (1 << n) if v >> (n - 1) else v

    def unary(self) -> int | None:
        """Count of 0 bits before the terminating 1."""
        q = 0
        nbits = len(self.data) * 8
        while True:
            if self.pos >= nbits:
                return None
            b = (self.data[self.pos >> 3] >> (7 - (self.pos & 7))) & 1
            self.pos += 1
            if b:
                return q
            q += 1
            if q > 1 << 20:
                return None               # pathological unary run

    def align(self) -> None:
        self.pos = (self.pos + 7) & ~7


def _read_utf8_number(b: _Bits) -> int | None:
    """FLAC's UTF-8-style variable-length frame/sample number (extended
    to 7 bytes / 36 bits)."""
    first = b.u(8)
    if first is None:
        return None
    if first < 0x80:
        return first
    n = 0
    mask = 0x40
    while first & mask:
        n += 1
        mask >>= 1
    if n < 1 or n > 6:
        return None                       # 10xxxxxx lead or >7 bytes
    v = first & (mask - 1)
    for _ in range(n):
        c = b.u(8)
        if c is None or (c & 0xC0) != 0x80:
            return None
        v = (v << 6) | (c & 0x3F)
    return v


def _read_residual(b: _Bits, block_size: int, order: int) -> list[int] | None:
    method = b.u(2)
    if method is None or method > 1:
        return None
    pbits = 4 + method                    # Rice / Rice2 parameter width
    escape = (1 << pbits) - 1
    porder = b.u(4)
    if porder is None:
        return None
    nparts = 1 << porder
    if block_size % nparts:
        return None
    out: list[int] = []
    for p in range(nparts):
        # first partition holds block_size/2^p - order samples
        count = (block_size >> porder) - (order if p == 0 else 0)
        if count < 0:
            return None
        k = b.u(pbits)
        if k is None:
            return None
        if k == escape:                   # raw-bits escape
            raw = b.u(5)
            if raw is None:
                return None
            for _ in range(count):
                v = b.s(raw) if raw else 0
                if v is None:
                    return None
                out.append(v)
        else:
            for _ in range(count):
                q = b.unary()
                if q is None:
                    return None
                low = b.u(k) if k else 0
                if low is None:
                    return None
                u = (q << k) | low
                out.append((u >> 1) ^ -(u & 1))   # un-zigzag
    return out


def _read_subframe(b: _Bits, block_size: int, bps: int) -> list[int] | None:
    pad = b.u(1)
    if pad is None or pad:
        return None
    ftype = b.u(6)
    wflag = b.u(1)
    if ftype is None or wflag is None:
        return None
    wasted = 0
    if wflag:
        q = b.unary()
        if q is None:
            return None
        wasted = q + 1
        bps -= wasted
        if bps <= 0:
            return None

    if ftype == 0:                        # CONSTANT
        v = b.s(bps)
        if v is None:
            return None
        samples = [v] * block_size
    elif ftype == 1:                      # VERBATIM
        samples = []
        for _ in range(block_size):
            v = b.s(bps)
            if v is None:
                return None
            samples.append(v)
    elif 8 <= ftype <= 12:                # FIXED, order 0-4
        order = ftype - 8
        if order > block_size:
            return None
        warm = []
        for _ in range(order):
            v = b.s(bps)
            if v is None:
                return None
            warm.append(v)
        res = _read_residual(b, block_size, order)
        if res is None:
            return None
        samples = warm
        coeffs = _FIXED_COEFFS[order]
        for r in res:
            pred = sum(c * samples[-1 - j] for j, c in enumerate(coeffs))
            samples.append(pred + r)
    elif ftype >= 32:                     # LPC, order 1-32
        order = ftype - 31
        if order > block_size:
            return None
        warm = []
        for _ in range(order):
            v = b.s(bps)
            if v is None:
                return None
            warm.append(v)
        prec = b.u(4)
        if prec is None or prec == 15:
            return None
        prec += 1
        shift = b.s(5)
        if shift is None or shift < 0:
            return None
        coeffs = []
        for _ in range(order):
            c = b.s(prec)
            if c is None:
                return None
            coeffs.append(c)
        res = _read_residual(b, block_size, order)
        if res is None:
            return None
        samples = warm
        for r in res:
            pred = sum(c * samples[-1 - j]
                       for j, c in enumerate(coeffs)) >> shift
            samples.append(pred + r)
    else:
        return None                       # reserved subframe types

    if wasted:
        samples = [s << wasted for s in samples]
    return samples


def decode_flac(payload: bytes | None):
    """(sample_rate, n_channels, bits, interleaved samples) or None."""
    if not payload or len(payload) < 42 or payload[:4] != b"fLaC":
        return None
    pos = 4
    si = None
    while pos + 4 <= len(payload):       # metadata blocks
        hdr = payload[pos]
        ln = int.from_bytes(payload[pos + 1:pos + 4], "big")
        body = payload[pos + 4:pos + 4 + ln]
        if len(body) < ln:
            return None
        if hdr & 0x7F == 0:              # STREAMINFO
            if ln != 34:
                return None
            si = body
        pos += 4 + ln
        if hdr & 0x80:                   # last-metadata flag
            break
    if si is None:
        return None
    bits20 = int.from_bytes(si[10:18], "big")
    rate = bits20 >> 44
    channels = ((bits20 >> 41) & 0x7) + 1
    bps_si = ((bits20 >> 36) & 0x1F) + 1
    total = bits20 & ((1 << 36) - 1)
    if not rate or channels < 1 or channels > 8:
        return None
    if total * channels > MAX_SAMPLES:
        return None

    out: list[list[int]] = []            # per-frame channel blocks
    n_done = 0
    while pos < len(payload):
        frame_start = pos
        b = _Bits(payload, pos * 8)
        sync = b.u(14)
        if sync != 0x3FFE:               # None or desync both reject
            return None
        resv1 = b.u(1)
        b.u(1)                           # blocking strategy
        bs_code = b.u(4)
        sr_code = b.u(4)
        ch_code = b.u(4)
        ss_code = b.u(3)
        resv2 = b.u(1)
        if None in (resv1, bs_code, sr_code, ch_code, ss_code, resv2) \
                or resv1 or resv2:
            return None
        if _read_utf8_number(b) is None:
            return None
        if bs_code == 0:
            return None
        elif bs_code == 6:
            v = b.u(8)
            if v is None:
                return None
            block_size = v + 1
        elif bs_code == 7:
            v = b.u(16)
            if v is None:
                return None
            block_size = v + 1
        else:
            block_size = _BLOCK_SIZE_CODE[bs_code]
        if sr_code == 0:
            pass                         # from STREAMINFO
        elif sr_code in _SAMPLE_RATE_CODE:
            pass                         # informational; STREAMINFO rules
        elif sr_code == 12:
            if b.u(8) is None:
                return None
        elif sr_code in (13, 14):
            if b.u(16) is None:
                return None
        else:
            return None
        if ss_code == 0:
            bps = bps_si
        elif ss_code in _SAMPLE_SIZE_CODE:
            bps = _SAMPLE_SIZE_CODE[ss_code]
        else:
            return None
        crc8 = b.u(8)
        if crc8 is None or (b.pos & 7):
            return None
        if _crc8(payload[frame_start:(b.pos // 8) - 1]) != crc8:
            return None

        if ch_code < 8:
            if ch_code + 1 != channels:
                return None
            chans = []
            for _ in range(channels):
                s = _read_subframe(b, block_size, bps)
                if s is None:
                    return None
                chans.append(s)
        elif ch_code in (8, 9, 10):      # left/side, right/side, mid/side
            if channels != 2:
                return None
            bps0 = bps + (1 if ch_code == 9 else 0)
            bps1 = bps + (1 if ch_code in (8, 10) else 0)
            c0 = _read_subframe(b, block_size, bps0)
            c1 = _read_subframe(b, block_size, bps1)
            if c0 is None or c1 is None:
                return None
            if ch_code == 8:             # c0=left, c1=side
                chans = [c0, [l - s for l, s in zip(c0, c1)]]
            elif ch_code == 9:           # c0=side, c1=right
                chans = [[s + r for s, r in zip(c0, c1)], c1]
            else:                        # c0=mid, c1=side
                left, right = [], []
                for m, s in zip(c0, c1):
                    mm = (m << 1) | (s & 1)
                    left.append((mm + s) >> 1)
                    right.append((mm - s) >> 1)
                chans = [left, right]
        else:
            return None

        b.align()
        crc_pos = b.pos // 8
        if crc_pos + 2 > len(payload):
            return None
        crc16 = int.from_bytes(payload[crc_pos:crc_pos + 2], "big")
        if _crc16(payload[frame_start:crc_pos]) != crc16:
            return None
        pos = crc_pos + 2
        out.append(chans)
        n_done += block_size * channels
        if n_done > MAX_SAMPLES:
            return None

    if not out:
        return None
    samples: list[int] = []
    for chans in out:
        for frame in zip(*chans):
            samples.extend(frame)
    if total and total * channels < len(samples):
        samples = samples[:total * channels]
    return (rate, channels, bps_si, samples)


class _BitW:
    __slots__ = ("out", "acc", "nbits")

    def __init__(self):
        self.out = bytearray()
        self.acc = 0
        self.nbits = 0

    def u(self, v: int, n: int) -> None:
        self.acc = (self.acc << n) | (v & ((1 << n) - 1))
        self.nbits += n
        while self.nbits >= 8:
            self.out.append((self.acc >> (self.nbits - 8)) & 0xFF)
            self.nbits -= 8
        self.acc &= (1 << self.nbits) - 1

    def align(self) -> None:
        if self.nbits:
            self.u(0, 8 - self.nbits)

    def bytes(self) -> bytes:
        self.align()
        return bytes(self.out)


def _utf8_number(v: int) -> bytes:
    if v < 0x80:
        return bytes((v,))
    # minimal multi-byte form: n continuation bytes carry 6n bits, the
    # lead byte carries 6-n
    out = []
    n = 1
    while v >= 1 << (5 * n + 6):
        n += 1
    lead_bits = 6 - n
    out.append((0xFF << (lead_bits + 1)) & 0xFF | (v >> (6 * n)))
    for i in range(n - 1, -1, -1):
        out.append(0x80 | ((v >> (6 * i)) & 0x3F))
    return bytes(out)


def _rice_write(w: _BitW, v: int, k: int) -> None:
    u = (v << 1) if v >= 0 else ((-v) << 1) - 1
    q = u >> k
    for _ in range(q):
        w.u(0, 1)
    w.u(1, 1)
    if k:
        w.u(u & ((1 << k) - 1), k)


def _best_rice_k(residuals: list[int]) -> int:
    best_k, best_len = 0, None
    for k in range(15):
        total = 0
        for v in residuals:
            u = (v << 1) if v >= 0 else ((-v) << 1) - 1
            total += (u >> k) + 1 + k
            if best_len is not None and total > best_len:
                break
        if best_len is None or total < best_len:
            best_k, best_len = k, total
    return best_k


def encode_flac(rate: int, channels: int, bps: int,
                samples: list[int], block_size: int = 256,
                strategy: str = "fixed",
                stereo: str = "independent",
                partition_order: int = 0,
                rice2: bool = False,
                lpc_coeffs: tuple[list[int], int, int] | None = None,
                wasted: int = 0) -> bytes:
    """Spec-faithful FLAC encoder (fixture/test side): STREAMINFO with
    real MD5, frames of ``block_size``, subframes per ``strategy`` —
    'verbatim', 'constant-or-verbatim', 'fixed' (best of orders 0-2 by
    residual magnitude), or 'lpc' (``lpc_coeffs=(coeffs, precision,
    shift)``, default ([3, -1], 4, 1) — exactness never depends on the
    coefficient choice). ``stereo`` picks the channel assignment for
    2-channel input: 'independent', 'left_side', 'right_side', or
    'mid_side'. ``partition_order`` splits residuals into 2^p
    Rice partitions (block_size must be divisible); ``rice2`` uses the
    5-bit-parameter coding method; ``wasted`` > 0 shifts every sample
    down by that many (caller guarantees divisibility by 2^wasted) and
    records it in the wasted-bits field."""
    if channels < 1 or channels > 8:
        raise ValueError("channels must be 1..8")
    if bps not in (8, 16):
        raise ValueError("fixture encoder writes bps 8 or 16")
    if len(samples) % channels:
        raise ValueError("samples not a whole number of frames")
    if stereo != "independent" and channels != 2:
        raise ValueError("stereo decorrelation needs 2 channels")
    n_frames = len(samples) // channels
    lim = 1 << (bps - 1)
    if samples and (max(samples) >= lim or min(samples) < -lim):
        raise ValueError("sample out of range for bps")

    # STREAMINFO
    md5 = hashlib.md5()
    width = bps // 8
    for s in samples:
        md5.update(int(s & ((1 << bps) - 1)).to_bytes(width, "little"))
    si = _BitW()
    si.u(block_size, 16)
    si.u(block_size, 16)
    si.u(0, 24)
    si.u(0, 24)
    si.u(rate, 20)
    si.u(channels - 1, 3)
    si.u(bps - 1, 5)
    si.u(n_frames, 36)
    stream = bytearray(b"fLaC")
    stream += bytes((0x80,)) + (34).to_bytes(3, "big")
    stream += si.bytes() + md5.digest()

    def write_header_bits(w: _BitW, ftype: int, wn: int) -> None:
        w.u(0, 1)
        w.u(ftype, 6)
        if wn:
            w.u(1, 1)                    # wasted-bits flag
            for _ in range(wn - 1):      # unary: (wn-1) zeros, then 1
                w.u(0, 1)
            w.u(1, 1)
        else:
            w.u(0, 1)

    def write_residual(w: _BitW, res: list[int], nblk: int,
                       order: int) -> None:
        porder = partition_order if nblk % (1 << partition_order) == 0 \
            and (nblk >> partition_order) > order else 0
        pbits = 5 if rice2 else 4
        w.u(1 if rice2 else 0, 2)
        w.u(porder, 4)
        idx = 0
        for p in range(1 << porder):
            count = (nblk >> porder) - (order if p == 0 else 0)
            part = res[idx:idx + count]
            idx += count
            k = _best_rice_k(part)
            w.u(k, pbits)
            for r in part:
                _rice_write(w, r, k)

    def write_subframe(w: _BitW, chan: list[int], sbps: int) -> None:
        # wasted bits are a PER-SUBFRAME property: the requested shift is
        # capped by the actual trailing zeros of this channel's data
        # (e.g. the mid channel of 2^k-multiples is only guaranteed k-1)
        wn = wasted
        for s in chan:
            if s and wn:
                wn = min(wn, (s & -s).bit_length() - 1)
        sbps -= wn
        if wn:
            chan = [s >> wn for s in chan]
        if strategy == "verbatim" or (strategy in ("fixed", "lpc")
                                      and len(chan) < 3):
            write_header_bits(w, 1, wn)
            for s in chan:
                w.u(s, sbps)
            return
        if strategy == "constant-or-verbatim":
            if all(s == chan[0] for s in chan):
                write_header_bits(w, 0, wn)
                w.u(chan[0], sbps)
            else:
                write_header_bits(w, 1, wn)
                for s in chan:
                    w.u(s, sbps)
            return
        if strategy == "lpc":
            coeffs, prec, shift = lpc_coeffs or ([3, -1], 4, 1)
            order = len(coeffs)
            res = [chan[i] - (sum(c * chan[i - 1 - j]
                                  for j, c in enumerate(coeffs)) >> shift)
                   for i in range(order, len(chan))]
            write_header_bits(w, 32 + order - 1, wn)
            for s in chan[:order]:
                w.u(s, sbps)
            w.u(prec - 1, 4)
            w.u(shift, 5)
            for c in coeffs:
                w.u(c, prec)
            write_residual(w, res, len(chan), order)
            return
        # fixed: best of orders 0-2 by sum |residual|
        best = None
        for order in (0, 1, 2):
            coeffs = _FIXED_COEFFS[order]
            res = [chan[i] - sum(c * chan[i - 1 - j]
                                 for j, c in enumerate(coeffs))
                   for i in range(order, len(chan))]
            cost = sum(abs(r) for r in res)
            if best is None or cost < best[2]:
                best = (order, res, cost)
        order, res, _ = best
        write_header_bits(w, 8 + order, wn)
        for s in chan[:order]:
            w.u(s, sbps)
        write_residual(w, res, len(chan), order)

    frame_idx = 0
    for off in range(0, n_frames, block_size):
        nblk = min(block_size, n_frames - off)
        chans = [[samples[(off + i) * channels + c] for i in range(nblk)]
                 for c in range(channels)]
        if stereo == "left_side":
            ch_code = 8
            sub = [(chans[0], bps),
                   ([l - r for l, r in zip(*chans)], bps + 1)]
        elif stereo == "right_side":
            ch_code = 9
            sub = [([l - r for l, r in zip(*chans)], bps + 1),
                   (chans[1], bps)]
        elif stereo == "mid_side":
            ch_code = 10
            sub = [([(l + r) >> 1 for l, r in zip(*chans)], bps),
                   ([l - r for l, r in zip(*chans)], bps + 1)]
        else:
            ch_code = channels - 1
            sub = [(c, bps) for c in chans]

        w = _BitW()
        w.u(0x3FFE, 14)                  # sync
        w.u(0, 1)                        # reserved
        w.u(0, 1)                        # fixed blocking
        bs_code = {v: k for k, v in _BLOCK_SIZE_CODE.items()}.get(nblk, 7)
        w.u(bs_code, 4)
        w.u(0, 4)                        # sample rate: STREAMINFO
        w.u(ch_code, 4)
        w.u({8: 1, 16: 4}[bps], 3)
        w.u(0, 1)                        # reserved
        hdr_tail = _utf8_number(frame_idx)
        for byte in hdr_tail:
            w.u(byte, 8)
        if bs_code == 7:
            w.u(nblk - 1, 16)
        hdr_bytes = w.bytes()            # aligns; header is byte-aligned
        hdr_bytes += bytes((_crc8(hdr_bytes),))

        body = _BitW()
        for chan, sbps in sub:
            write_subframe(body, chan, sbps)
        frame = hdr_bytes + body.bytes()
        frame += _crc16(frame).to_bytes(2, "big")
        stream += frame
        frame_idx += 1
    return bytes(stream)


def flac_features(payload: bytes | None, checksum_offset: int = 32768):
    """Same analytic invariants as wavpcm.wav_features, from a real FLAC
    decode: (rate, channels, n_frames, duration_ms, peak,
    zero_crossings, amp_checksum) or None."""
    return wavpcm.pcm_features(decode_flac(payload), checksum_offset)
