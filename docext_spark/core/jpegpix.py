"""Pure-Python baseline JPEG pixel decode — real Huffman + dequant + IDCT,
stdlib only.

The last piece of the image-decode story (PNG: core/pngpix.py, GIF:
core/gifpix.py): a REAL baseline-JPEG entropy decoder — marker parse, DQT
/ DHT table loading, byte-unstuffed Huffman bitstream, DC prediction with
EXTEND sign recovery, run/size AC coding with ZRL/EOB, dezigzag, dequant,
and the exact float 2-D IDCT from the JPEG spec (A.3.3) with level shift.

Scope (honest, like the PCM-only WAV and non-interlaced GIF decoders):
8-bit BASELINE (SOF0) **and PROGRESSIVE (SOF2)**, GRAYSCALE or
3-component YCbCr with per-component sampling factors in {1,2} — 4:4:4,
4:2:2, 4:4:0, and 4:2:0 (what nearly every real-world camera/web JPEG
uses): interleaved MCUs (Vi×Hi blocks per component), per-component DC
predictors, sample-replication chroma upsample, BT.601 full-range
conversion per ITU-T T.871, DRI/RSTn restart intervals (modulo-8
sequence validated, predictors/EOB-runs reset). Progressive covers the
full spec G.2 surface: spectral-selection band scans, successive
approximation (DC raw-bit refinement, AC ±1-at-bit refinement with
correction bits), EOB-run coding, interleaved multi-component DC scans.
Since progressive is a lossless RE-CODING of the same quantized
coefficients, decode(progressive(px)) == decode(baseline(px)) exactly —
the property the tests fuzz. **LOSSLESS (SOF3)** is also decoded — the
T.81 Annex H sequential DPCM process (predictors 1-7 with the spec's
first-line/first-column overrides, Huffman-coded SSSS difference
categories, point transform, mod-2^16 reconstruction) used by DNG raws
and DICOM archives; no DCT, no quantization, so EVERY pixel value
round-trips exactly. **SEQUENTIAL ARITHMETIC (SOF9)** is decoded by
core/jpegarith.py. Progressive or lossless arithmetic, hierarchical SOFs
and sampling factors >2 return None — at 100 TB those route to a codec
fleet; the scan must never die on one blob.

Exactness: JPEG is lossy in general, but a block whose 64 samples are one
CONSTANT EVEN value round-trips EXACTLY through FDCT → /16 quant → IDCT
(its only nonzero coefficient is DC = 8·(v−128), divisible by 16 iff v is
even) — which is what lets a planted fixture be replayed analytically by
a SQL oracle while the decoder still chews real entropy-coded bytes. The
general (non-constant) path is pinned by encoder↔decoder near-roundtrip
bounds and a NumPy cross-check of the IDCT.

Encoders (fixture/test side): encode_jpeg_sequential writes the T.81
sequential DCT process — one walk over the MCUs of a gray plane or of
Y plus pre-subsampled Cb/Cr, each block coded with Huffman codes (SOF0,
Annex K tables, F.1.2) or the adaptive arithmetic coder (SOF9, F.1.4 and
Annex D via core/jpegarith.py), with optional restart intervals and DAC
conditioning. encode_jpeg_progressive takes the same planes and
sampling factors and re-codes the same quantized coefficients as one
SOF2 scan script (interleaved DC scans, per-component AC band scans:
1-5 and 6-63 for gray, 1-63 for colour, each first at Al=1 and then
refined). encode_jpeg_lossless writes SOF3. All DCT encoders share
_quantize_block, so for the same planes every one of them decodes to
the same pixels.
"""
from __future__ import annotations

import math
import struct

# decode-bomb guard: a 100-byte payload can CLAIM 60000x60000 in SOF0 and
# would otherwise allocate the output buffer (and drive millions of IDCT
# calls) before any entropy data is validated. A pure-Python decoder's
# honest scope is small fixture/thumbnail imagery — anything larger
# returns None and routes to a codec fleet, exactly like the unsupported
# format paths.
MAX_PIXELS = 4_000_000

# zigzag order: index i of the scan -> (row, col) flat position
ZIGZAG = [
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
]

_COS = [[math.cos((2 * x + 1) * u * math.pi / 16) for u in range(8)]
        for x in range(8)]
_C = [1 / math.sqrt(2)] + [1.0] * 7


def idct2d(coef: list[float]) -> list[float]:
    """Exact (float) 8×8 inverse DCT, JPEG spec A.3.3 definition form."""
    out = [0.0] * 64
    for y in range(8):
        for x in range(8):
            s = 0.0
            for v in range(8):
                cvy = _COS[y][v]
                for u in range(8):
                    c = coef[v * 8 + u]
                    if c:
                        s += _C[u] * _C[v] * c * _COS[x][u] * cvy
            out[y * 8 + x] = s / 4
    return out


def fdct2d(block: list[float]) -> list[float]:
    """Forward DCT (encoder side), definition form."""
    out = [0.0] * 64
    for v in range(8):
        for u in range(8):
            s = 0.0
            for y in range(8):
                cvy = _COS[y][v]
                for x in range(8):
                    s += block[y * 8 + x] * _COS[x][u] * cvy
            out[v * 8 + u] = s * _C[u] * _C[v] / 4
    return out


class _HuffTable:
    """Canonical JPEG Huffman table: (code, length) -> symbol."""

    def __init__(self, counts: bytes, symbols: bytes):
        self.lookup: dict[tuple[int, int], int] = {}
        code = 0
        k = 0
        for length in range(1, 17):
            for _ in range(counts[length - 1]):
                self.lookup[(length, code)] = symbols[k]
                code += 1
                k += 1
            code <<= 1
        # precomputed: read_symbol consults this once per Huffman symbol
        # (per-block hot path) — the table is immutable after construction
        self.max_len = max((ln for ln, _ in self.lookup), default=0)


class _BitReader:
    """Byte-unstuffed MSB-first bit reader over entropy-coded data."""

    def __init__(self, data: bytes):
        self.data = data
        self.pos = 0
        self.acc = 0
        self.nbits = 0

    def _fill(self) -> bool:
        while self.nbits < 25:
            if self.pos >= len(self.data):
                return self.nbits > 0
            b = self.data[self.pos]
            self.pos += 1
            if b == 0xFF:
                if self.pos < len(self.data) and self.data[self.pos] == 0x00:
                    self.pos += 1          # stuffed byte
                else:
                    self.pos -= 1          # a real marker: stop feeding
                    return self.nbits > 0
            self.acc = (self.acc << 8) | b
            self.nbits += 8
        return True

    def read_bits(self, n: int):
        if n == 0:
            return 0
        self._fill()
        if self.nbits < n:
            return None
        self.nbits -= n
        v = (self.acc >> self.nbits) & ((1 << n) - 1)
        self.acc &= (1 << self.nbits) - 1
        return v

    def read_symbol(self, table: _HuffTable):
        self._fill()
        code = 0
        for length in range(1, table.max_len + 1):
            bit = self.read_bits(1)
            if bit is None:
                return None
            code = (code << 1) | bit
            sym = table.lookup.get((length, code))
            if sym is not None:
                return sym
        return None

    def sync_restart(self, expected: int) -> bool:
        """Consume an RSTn marker at a restart boundary: discard the
        current segment's padding bits (spec F.2.1.3.1 — fill bits before
        a marker carry no data), then require 0xFF 0xD0+expected at the
        byte position (_fill stopped exactly there on seeing a real
        marker). A wrong or missing modulo-8 sequence number means the
        stream is corrupt."""
        self.acc = 0
        self.nbits = 0
        if self.pos + 2 > len(self.data) or self.data[self.pos] != 0xFF:
            return False
        m = self.data[self.pos + 1]
        if not (0xD0 <= m <= 0xD7) or (m & 7) != expected:
            return False
        self.pos += 2
        return True


def _extend(v: int, size: int) -> int:
    """JPEG EXTEND (F.2.2.1): recover the signed value from size bits."""
    if size == 0:
        return 0
    return v if v >= (1 << (size - 1)) else v - (1 << size) + 1


def decode_jpeg(payload: bytes | None):
    """(w, h, 1, gray) or (w, h, 3, rgb) for baseline JPEG, or None."""
    if not payload or len(payload) < 4 or payload[:2] != b"\xff\xd8":
        return None
    qtables: dict[int, list[int]] = {}
    dc_tables: dict[int, _HuffTable] = {}
    ac_tables: dict[int, _HuffTable] = {}
    w = h = None
    restart_interval = 0
    comps: list[dict] | None = None
    progressive = False
    lossless = False
    arith = False
    dac_dc: dict[int, tuple[int, int]] = {}
    dac_ac: dict[int, int] = {}
    predictor = pt = 0
    prog_ready = False
    hmax = vmax = mcux = mcuy = 0
    i, n = 2, len(payload)
    data_start = None
    while i + 1 < n:
        if payload[i] != 0xFF:
            return None
        marker = payload[i + 1]
        if marker == 0xFF:
            i += 1
            continue
        if marker in (0xD8, 0x01) or 0xD0 <= marker <= 0xD7:
            i += 2
            continue
        if marker == 0xD9:                  # EOI
            if progressive and prog_ready:
                break                       # all scans consumed: finalize
            return None                     # EOI before any image data
        if i + 4 > n:
            return None
        seg_len = struct.unpack(">H", payload[i + 2:i + 4])[0]
        if seg_len < 2 or i + 2 + seg_len > n:
            return None                     # truncated segment
        seg = payload[i + 4:i + 2 + seg_len]
        if marker == 0xDB:                  # DQT
            p = 0
            while p < len(seg):
                if p + 65 > len(seg):
                    return None
                pq, tq = seg[p] >> 4, seg[p] & 0x0F
                if pq != 0:                 # 16-bit tables out of scope
                    return None
                qtables[tq] = list(seg[p + 1:p + 65])
                p += 65
        elif marker == 0xC4:                # DHT
            p = 0
            while p + 17 <= len(seg):
                tc, th = seg[p] >> 4, seg[p] & 0x0F
                counts = seg[p + 1:p + 17]
                total = sum(counts)
                if p + 17 + total > len(seg):
                    return None             # truncated table
                symbols = seg[p + 17:p + 17 + total]
                table = _HuffTable(counts, symbols)
                (dc_tables if tc == 0 else ac_tables)[th] = table
                p += 17 + total
        elif marker in (0xC0, 0xC2, 0xC9):  # SOF0 baseline / SOF2
            # progressive / SOF9 sequential arithmetic (T.81 Annex F)
            if comps is not None:
                return None     # a second frame header is corrupt — and
                                # would orphan the progressive coef store
            if len(seg) < 6:
                return None
            if seg[0] != 8:
                return None                 # 8-bit only
            arith = marker == 0xC9
            progressive = marker == 0xC2
            h, w = struct.unpack(">HH", seg[1:5])
            ncomp = seg[5]
            if ncomp not in (1, 3) or len(seg) < 6 + 3 * ncomp:
                return None                 # grayscale or YCbCr only
            comps = []
            for c in range(ncomp):
                cid, sampling, tq = seg[6 + 3 * c:9 + 3 * c]
                sh, sv = sampling >> 4, sampling & 0x0F
                if sh not in (1, 2) or sv not in (1, 2):
                    return None     # factors 1-2 cover 4:4:4/4:2:2/4:2:0/4:4:0
                comps.append({"id": cid, "qt": tq, "sh": sh, "sv": sv})
            if len(comps) == 1:
                # single-component scans are non-interleaved: the MCU is
                # one block regardless of declared factors (spec A.2.2)
                comps[0]["sh"] = comps[0]["sv"] = 1
        elif marker == 0xC3:                # SOF3 lossless (T.81 Annex H)
            if comps is not None:
                return None
            if len(seg) < 6 or seg[0] != 8:
                return None                 # 8-bit precision only
            lossless = True
            h, w = struct.unpack(">HH", seg[1:5])
            ncomp = seg[5]
            if ncomp not in (1, 3) or len(seg) < 6 + 3 * ncomp:
                return None
            comps = []
            for c in range(ncomp):
                cid, sampling, _tq = seg[6 + 3 * c:9 + 3 * c]
                if sampling != 0x11:
                    return None             # lossless: 1x1 sampling only
                comps.append({"id": cid, "sh": 1, "sv": 1})
        elif marker in (0xC1, 0xC5, 0xC6, 0xC7,
                        0xCA, 0xCB, 0xCD, 0xCE, 0xCF):
            return None     # other SOF types out of scope (progressive/
                            # lossless ARITHMETIC and hierarchical)
        elif marker == 0xCC:                # DAC: arithmetic conditioning
            p = 0
            while p + 2 <= len(seg):
                tc, tb = seg[p] >> 4, seg[p] & 0x0F
                if tc == 0:                 # DC: value = (U << 4) | L
                    lo, hi = seg[p + 1] & 0x0F, seg[p + 1] >> 4
                    if not lo <= hi <= 15:
                        return None         # B.2.4.3: 0 <= L <= U <= 15
                    dac_dc[tb] = (lo, hi)
                else:                       # AC: value = Kx in 1..63
                    if not 1 <= seg[p + 1] <= 63:
                        return None
                    dac_ac[tb] = seg[p + 1]
                p += 2
        elif marker == 0xDD:                # DRI
            if len(seg) < 2:
                return None
            restart_interval = struct.unpack(">H", seg[:2])[0]
        elif marker == 0xDA:                # SOS
            if comps is None or not w or not h or len(seg) < 1:
                return None
            ns = seg[0]
            if not 1 <= ns <= len(comps) or len(seg) < 1 + 2 * ns + 3:
                return None
            by_id = {c["id"]: c for c in comps}
            scan = []
            for c in range(ns):
                cs, tb = seg[1 + 2 * c], seg[2 + 2 * c]
                if cs not in by_id:
                    return None
                by_id[cs]["dc"] = tb >> 4
                by_id[cs]["ac"] = tb & 0x0F
                scan.append(by_id[cs])
            # B.2.3: scan components must follow frame-header order (and
            # be distinct) — the decode loops walk ``comps`` order, so a
            # reordered scan header would otherwise be silently accepted
            # with the entropy stream interleaved differently than read
            order = [next(j for j, cc in enumerate(comps) if cc is s)
                     for s in scan]
            if any(order[k] >= order[k + 1] for k in range(len(order) - 1)):
                return None
            ss_, se_, ahal = seg[1 + 2 * ns:4 + 2 * ns]
            ah_, al_ = ahal >> 4, ahal & 0x0F
            if lossless:
                # Annex H scan header: Ss = predictor selection (1-7),
                # Se = 0, Ah = 0, Al = point transform (< precision)
                if ns != len(comps) or not 1 <= ss_ <= 7 or se_ != 0 \
                        or ah_ != 0 or al_ > 7:
                    return None
                predictor, pt = ss_, al_
                data_start = i + 2 + seg_len
                break
            if not progressive:
                if ns != len(comps) or ss_ != 0 or se_ != 63 or ahal != 0:
                    return None
                data_start = i + 2 + seg_len
                break
            # ---- progressive scan: decode inline, keep walking markers
            if w * h > MAX_PIXELS:
                return None                 # guard BEFORE the coef store
            if not prog_ready:
                hmax = max(c["sh"] for c in comps)
                vmax = max(c["sv"] for c in comps)
                mcux = (w + 8 * hmax - 1) // (8 * hmax)
                mcuy = (h + 8 * vmax - 1) // (8 * vmax)
                for c in comps:
                    c["cw"] = (w * c["sh"] + hmax - 1) // hmax
                    c["ch"] = (h * c["sv"] + vmax - 1) // vmax
                    c["bw"] = mcux * c["sh"]
                    c["bh"] = mcuy * c["sv"]
                    # scan-order (zigzag-indexed) quantized coefficients
                    c["coefs"] = [[0] * 64
                                  for _ in range(c["bw"] * c["bh"])]
                prog_ready = True
            reader = _BitReader(payload[i + 2 + seg_len:])
            if not _decode_prog_scan(reader, scan, comps, dc_tables,
                                     ac_tables, ss_, se_, ah_, al_,
                                     mcux, mcuy, restart_interval):
                return None
            # resume the marker walk at the next REAL marker (skip any
            # entropy remainder / fill bytes the scan left behind)
            i += 2 + seg_len + reader.pos
            while i + 1 < n and not (payload[i] == 0xFF
                                     and payload[i + 1] not in (0x00, 0xFF)):
                i += 1
            continue
        i += 2 + seg_len
    if progressive:
        if not prog_ready:
            return None
        return _finalize_progressive(w, h, comps, qtables, hmax, vmax)
    if data_start is None or not w or not h or comps is None \
            or any("dc" not in c for c in comps):
        return None
    if w * h > MAX_PIXELS:
        return None                         # decode-bomb guard (see above)
    if lossless:
        if restart_interval:
            return None     # DRI in lossless scans: out of scope (the
                            # restart re-enters first-line prediction
                            # state mid-image; codec-fleet territory)
        for c in comps:
            if c["dc"] not in dc_tables:
                return None
        planes = _decode_lossless(
            _BitReader(payload[data_start:]), w, h,
            [dc_tables[c["dc"]] for c in comps], predictor, pt)
        if planes is None:
            return None
        if len(comps) == 1:
            return (w, h, 1, bytes(planes[0]))
        # T.81 defines no colour transform for lossless and JFIF (T.871)
        # covers only the DCT processes: 3-component samples pass through
        # as-is in component order (the DNG/DICOM convention) — which is
        # also what makes every output value exactly the coded sample
        out = bytearray(w * h * 3)
        for ci in range(3):
            out[ci::3] = planes[ci]
        return (w, h, 3, bytes(out))
    for c in comps:
        if c["qt"] not in qtables:
            return None
        if not arith and (c["dc"] not in dc_tables
                          or c["ac"] not in ac_tables):
            return None
    if arith:
        from docext_spark.core.jpegarith import ArithScanDecoder
        arith_scan = ArithScanDecoder(payload, data_start, comps,
                                      dac_dc, dac_ac)
        reader = None
    else:
        arith_scan = None
        reader = _BitReader(payload[data_start:])
    if len(comps) == 1:
        # single-component scans are non-interleaved: the MCU is one block
        # regardless of declared sampling factors (spec A.2.2)
        comps[0]["sh"] = comps[0]["sv"] = 1
    hmax = max(c["sh"] for c in comps)
    vmax = max(c["sv"] for c in comps)
    for c in comps:
        # component plane dims (spec A.1.1: ceil(x·Hi/Hmax))
        c["cw"] = (w * c["sh"] + hmax - 1) // hmax
        c["ch"] = (h * c["sv"] + vmax - 1) // vmax
        c["plane"] = bytearray(c["cw"] * c["ch"])
    mcux = (w + 8 * hmax - 1) // (8 * hmax)
    mcuy = (h + 8 * vmax - 1) // (8 * vmax)
    preds = [0] * len(comps)
    mcu_no = 0
    for my in range(mcuy):
        for mx in range(mcux):
            # restart boundary: every `restart_interval` MCUs the stream
            # carries an RSTn marker (n cycles 0-7) and DC prediction
            # resets — what camera JPEGs emit for error resilience
            if restart_interval and mcu_no \
                    and mcu_no % restart_interval == 0:
                n_rst = (mcu_no // restart_interval - 1) % 8
                if arith:
                    if not arith_scan.restart(n_rst):
                        return None
                elif not reader.sync_restart(n_rst):
                    return None
                preds = [0] * len(comps)
            mcu_no += 1
            # interleaved MCU: Vi×Hi blocks per component, row-major
            for ci, c in enumerate(comps):
                for bi in range(c["sv"]):
                    for bj in range(c["sh"]):
                        if arith:
                            q = arith_scan.decode_block(ci)
                            if q is None:
                                return None
                            spatial = _coefs_to_spatial(
                                q, qtables[c["qt"]])
                        else:
                            res = _decode_block(reader,
                                                dc_tables[c["dc"]],
                                                ac_tables[c["ac"]],
                                                qtables[c["qt"]],
                                                preds[ci])
                            if res is None:
                                return None
                            spatial, preds[ci] = res
                        plane, cw, ch = c["plane"], c["cw"], c["ch"]
                        by, bx = my * c["sv"] + bi, mx * c["sh"] + bj
                        for yy in range(8):
                            py = by * 8 + yy
                            if py >= ch:
                                break
                            row = py * cw
                            for xx in range(8):
                                px = bx * 8 + xx
                                if px >= cw:
                                    break
                                v = int(round(spatial[yy * 8 + xx])) + 128
                                plane[row + px] = 0 if v < 0 else \
                                    (255 if v > 255 else v)
    if len(comps) == 1:
        return (w, h, 1, bytes(comps[0]["plane"]))
    full = [_upsample(c["plane"], c["cw"], w, h, c["sh"], hmax,
                      c["sv"], vmax) for c in comps]
    return (w, h, 3, _ycbcr_to_rgb(full[0], full[1], full[2]))


def _upsample(plane: bytearray, cw: int, w: int, h: int,
              sh: int, hmax: int, sv: int, vmax: int) -> bytearray:
    """Sample-replication chroma upsample (libjpeg's non-fancy mode):
    out[x, y] = plane[x·Hi//Hmax, y·Vi//Vmax]. Deterministic and
    SQL-replayable — no interpolation (the spec mandates none)."""
    if sh == hmax and sv == vmax:
        return plane
    out = bytearray(w * h)
    for yy in range(h):
        row = (yy * sv // vmax) * cw
        orow = yy * w
        for xx in range(w):
            out[orow + xx] = plane[row + xx * sh // hmax]
    return out


def _decode_prog_scan(reader: _BitReader, scan: list[dict],
                      comps: list[dict], dc_tables, ac_tables,
                      ss: int, se: int, ah: int, al: int,
                      mcux: int, mcuy: int, restart_interval: int) -> bool:
    """One progressive scan (spec G.2): DC first/refine (interleaved when
    Ns>1, else non-interleaved) or AC first/refine (always one component,
    one spectral band, with EOB-run coding). Coefficients accumulate in
    each component's zigzag-ordered ``coefs`` store."""
    if ss == 0:                              # ---- DC scan
        if se != 0 or al > 13 or (ah and ah != al + 1):
            return False
        for c in scan:
            if ah == 0 and c["dc"] not in dc_tables:
                return False                 # refinement reads raw bits
        preds = [0] * len(scan)

        def dc_one(ci: int, idx: int) -> bool:
            coefs = scan[ci]["coefs"][idx]
            if ah == 0:
                size = reader.read_symbol(dc_tables[scan[ci]["dc"]])
                if size is None or size > 11:
                    return False
                bits = reader.read_bits(size)
                if bits is None:
                    return False
                preds[ci] += _extend(bits, size)
                coefs[0] = preds[ci] << al
            else:
                bit = reader.read_bits(1)
                if bit is None:
                    return False
                coefs[0] += bit << al
            return True

        if len(scan) > 1:                    # interleaved MCU walk
            mcu_no = 0
            for my in range(mcuy):
                for mx in range(mcux):
                    if restart_interval and mcu_no \
                            and mcu_no % restart_interval == 0:
                        if not reader.sync_restart(
                                (mcu_no // restart_interval - 1) % 8):
                            return False
                        preds = [0] * len(scan)
                    mcu_no += 1
                    for ci, c in enumerate(scan):
                        for bi in range(c["sv"]):
                            for bj in range(c["sh"]):
                                idx = (my * c["sv"] + bi) * c["bw"] \
                                    + mx * c["sh"] + bj
                                if not dc_one(ci, idx):
                                    return False
            return True
        c = scan[0]
        return _walk_noninterleaved(
            reader, c, restart_interval,
            lambda idx: dc_one(0, idx),
            on_restart=lambda: preds.__setitem__(0, 0))

    # ---- AC scan: exactly one component, band inside 1..63
    if len(scan) != 1 or not 1 <= ss <= se <= 63 \
            or (ah and ah != al + 1) or al > 13:
        return False
    c = scan[0]
    if c["ac"] not in ac_tables:
        return False
    ac_t = ac_tables[c["ac"]]
    state = {"eobrun": 0}

    def ac_one(idx: int) -> bool:
        coefs = c["coefs"][idx]
        if ah == 0:
            if state["eobrun"] > 0:
                state["eobrun"] -= 1
                return True
            k = ss
            while k <= se:
                sym = reader.read_symbol(ac_t)
                if sym is None:
                    return False
                r, s = sym >> 4, sym & 0x0F
                if s == 0:
                    if r == 15:              # ZRL: 16 zeros
                        k += 16
                        continue
                    state["eobrun"] = (1 << r) - 1
                    if r:
                        b = reader.read_bits(r)
                        if b is None:
                            return False
                        state["eobrun"] += b
                    break
                k += r
                if k > se:
                    return False
                b = reader.read_bits(s)
                if b is None:
                    return False
                coefs[k] = _extend(b, s) << al
                k += 1
            return True
        new_eobrun = _refine_ac_block(reader, ac_t, coefs, ss, se, al,
                                      state["eobrun"])
        if new_eobrun is None:
            return False
        state["eobrun"] = new_eobrun
        return True

    return _walk_noninterleaved(
        reader, c, restart_interval, ac_one,
        on_restart=lambda: state.__setitem__("eobrun", 0))


def _walk_noninterleaved(reader: _BitReader, c: dict,
                         restart_interval: int, fn, on_restart) -> bool:
    """Visit the component's VISIBLE blocks (ceil(cw/8) × ceil(ch/8))
    row-major — non-interleaved scans never code the MCU padding blocks —
    with RSTn sync + state reset every ``restart_interval`` blocks."""
    nbw = (c["cw"] + 7) // 8
    nbh = (c["ch"] + 7) // 8
    blk_no = 0
    for by in range(nbh):
        for bx in range(nbw):
            if restart_interval and blk_no \
                    and blk_no % restart_interval == 0:
                if not reader.sync_restart(
                        (blk_no // restart_interval - 1) % 8):
                    return False
                on_restart()
            blk_no += 1
            if not fn(by * c["bw"] + bx):
                return False
    return True


def _refine_ac_block(reader: _BitReader, ac_t: _HuffTable,
                     coefs: list[int], ss: int, se: int, al: int,
                     eobrun: int):
    """AC successive-approximation refinement for one block (spec G.2,
    the libjpeg decode_mcu_AC_refine control flow): run/size symbols place
    new ±1-at-this-bit coefficients after r ZERO-HISTORY positions, every
    nonzero-history coefficient passed on the way reads a correction bit,
    and an EOB-run plays correction bits out to the band end. Returns the
    updated eobrun, or None on a corrupt stream. Works on Python ints,
    whose infinite two's complement makes ``coef & p1`` behave exactly
    like the C implementation on negative values."""
    p1, m1 = 1 << al, -1 << al
    k = ss
    if eobrun == 0:
        while k <= se:
            sym = reader.read_symbol(ac_t)
            if sym is None:
                return None
            r, s = sym >> 4, sym & 0x0F
            val = 0
            if s == 0:
                if r != 15:
                    eobrun = 1 << r
                    if r:
                        b = reader.read_bits(r)
                        if b is None:
                            return None
                        eobrun += b
                    break
                # r == 15 (ZRL): advance over 16 zero-history positions
            else:
                if s != 1:
                    return None              # refinement codes only ±1
                b = reader.read_bits(1)
                if b is None:
                    return None
                val = p1 if b else m1
            while k <= se:
                if coefs[k] != 0:
                    b = reader.read_bits(1)
                    if b is None:
                        return None
                    if b and (coefs[k] & p1) == 0:
                        coefs[k] += p1 if coefs[k] >= 0 else m1
                else:
                    if r == 0:
                        break
                    r -= 1
                k += 1
            if val and k <= se:
                coefs[k] = val
            k += 1
    if eobrun > 0:
        while k <= se:
            if coefs[k] != 0:
                b = reader.read_bits(1)
                if b is None:
                    return None
                if b and (coefs[k] & p1) == 0:
                    coefs[k] += p1 if coefs[k] >= 0 else m1
            k += 1
        eobrun -= 1
    return eobrun


def _finalize_progressive(w: int, h: int, comps: list[dict], qtables,
                          hmax: int, vmax: int):
    """Dequant + IDCT every visible block of the accumulated coefficient
    store, then the same plane → upsample → BT.601 tail as baseline."""
    for c in comps:
        if c["qt"] not in qtables:
            return None
        qt = qtables[c["qt"]]
        plane = bytearray(c["cw"] * c["ch"])
        nbw = (c["cw"] + 7) // 8
        nbh = (c["ch"] + 7) // 8
        for by in range(nbh):
            for bx in range(nbw):
                coefs = c["coefs"][by * c["bw"] + bx]
                natural = [0.0] * 64
                has_ac = False
                for k in range(64):
                    v = coefs[k]
                    if v:
                        natural[ZIGZAG[k]] = v * qt[k]
                        if k:
                            has_ac = True
                if has_ac:
                    spatial = idct2d(natural)
                else:
                    spatial = [_C[0] * _C[0] * natural[0] / 4] * 64
                cw, ch = c["cw"], c["ch"]
                for yy in range(8):
                    py = by * 8 + yy
                    if py >= ch:
                        break
                    row = py * cw
                    for xx in range(8):
                        px = bx * 8 + xx
                        if px >= cw:
                            break
                        v = int(round(spatial[yy * 8 + xx])) + 128
                        plane[row + px] = 0 if v < 0 else \
                            (255 if v > 255 else v)
        c["plane"] = plane
    if len(comps) == 1:
        return (w, h, 1, bytes(comps[0]["plane"]))
    full = [_upsample(c["plane"], c["cw"], w, h, c["sh"], hmax,
                      c["sv"], vmax) for c in comps]
    return (w, h, 3, _ycbcr_to_rgb(full[0], full[1], full[2]))


def _px_predict(plane: bytearray, w: int, xx: int, yy: int,
                predictor: int, default: int) -> int:
    """Annex H.1.2 prediction for sample (xx, yy) over the already-
    reconstructed plane: the very first sample uses 2^(P-1-Pt), the rest
    of line 1 uses Ra, the first column uses Rb (both overrides apply
    regardless of the selected predictor), everything else the selected
    predictor 1-7. Shared verbatim by the decoder and the fixture
    encoder so the DPCM loop cannot desynchronize."""
    row = yy * w
    if yy == 0:
        return plane[row + xx - 1] if xx else default
    if xx == 0:
        return plane[row - w]
    ra = plane[row + xx - 1]
    rb = plane[row - w + xx]
    if predictor == 1:
        return ra
    if predictor == 2:
        return rb
    rc = plane[row - w + xx - 1]
    if predictor == 3:
        return rc
    if predictor == 4:
        return ra + rb - rc
    if predictor == 5:
        return ra + ((rb - rc) >> 1)
    if predictor == 6:
        return rb + ((ra - rc) >> 1)
    return (ra + rb) >> 1                    # predictor 7


def _decode_lossless(reader: _BitReader, w: int, h: int,
                     tables: list[_HuffTable], predictor: int, pt: int):
    """Annex H sequential lossless scan: interleaved MCU = one sample per
    component (all factors forced 1×1 by the SOF3 parse), per-component
    Huffman SSSS category + EXTEND difference (SSSS 16 codes 32768 with
    no extra bits, H.2.2), prediction over the Pt-shifted sample domain,
    reconstruction mod 2^16 reduced to the 8-bit range, and the point
    transform undone by a final left shift. Returns the component planes
    or None on a corrupt stream."""
    ncomp = len(tables)
    planes = [bytearray(w * h) for _ in range(ncomp)]
    default = 128 >> pt                      # 2^(P-1-Pt) with P = 8
    for yy in range(h):
        row = yy * w
        for xx in range(w):
            for ci in range(ncomp):
                size = reader.read_symbol(tables[ci])
                if size is None or size > 16:
                    return None
                if size == 16:
                    diff = 32768
                else:
                    bits = reader.read_bits(size)
                    if bits is None:
                        return None
                    diff = _extend(bits, size)
                px = _px_predict(planes[ci], w, xx, yy, predictor, default)
                planes[ci][row + xx] = (px + diff) & 0xFF
    if pt:
        for plane in planes:
            for j in range(len(plane)):
                plane[j] = (plane[j] << pt) & 0xFF
    return planes


def _decode_block(reader: _BitReader, dc_t: _HuffTable, ac_t: _HuffTable,
                  qt: list[int], pred: int):
    """One 8×8 block: DC diff + AC run/size entropy decode, dezigzag,
    dequant, IDCT. Returns (spatial, new_pred) or None."""
    size = reader.read_symbol(dc_t)
    if size is None or size > 11:
        return None
    bits = reader.read_bits(size)
    if bits is None:
        return None
    pred += _extend(bits, size)
    coef = [0.0] * 64
    coef[0] = pred * qt[0]
    k = 1
    has_ac = False
    while k < 64:
        sym = reader.read_symbol(ac_t)
        if sym is None:
            return None
        if sym == 0x00:                     # EOB
            break
        run, size = sym >> 4, sym & 0x0F
        if size == 0:
            if run != 15:                   # only ZRL carries size 0
                return None
            k += 16
            continue
        k += run
        if k > 63:
            return None
        bits = reader.read_bits(size)
        if bits is None:
            return None
        coef[ZIGZAG[k]] = _extend(bits, size) * qt[k]
        has_ac = True
        k += 1
    if has_ac:
        spatial = idct2d(coef)
    else:
        # DC-only fast path, bit-identical to idct2d (all cos terms are
        # exactly 1.0 for u=v=0): f(x,y) = C0·C0·DC / 4
        spatial = [_C[0] * _C[0] * coef[0] / 4] * 64
    return spatial, pred


def _coefs_to_spatial(q: list[int], qt: list[int]) -> list[float]:
    """Dequantize zigzag-ordered quantized coefficients and IDCT —
    bit-identical to _decode_block's tail (shared by the arithmetic
    entropy path, which produces whole coefficient blocks)."""
    coef = [0.0] * 64
    coef[0] = q[0] * qt[0]
    has_ac = False
    for k in range(1, 64):
        if q[k]:
            coef[ZIGZAG[k]] = q[k] * qt[k]
            has_ac = True
    if has_ac:
        return idct2d(coef)
    return [_C[0] * _C[0] * coef[0] / 4] * 64


def _ycbcr_to_rgb(y: bytearray, cb: bytearray, cr: bytearray) -> bytes:
    """BT.601 full-range conversion (ITU-T T.871), floor(x+0.5) rounding —
    deliberately floor-based (not Python's banker's round) so a SQL oracle
    replays it with floor(expr + 0.5) identically."""
    out = bytearray(len(y) * 3)
    floor = math.floor
    for i in range(len(y)):
        yv, cbv, crv = y[i], cb[i], cr[i]
        r = floor(yv + 1.402 * (crv - 128) + 0.5)
        g = floor(yv - 0.344136 * (cbv - 128) - 0.714136 * (crv - 128) + 0.5)
        b = floor(yv + 1.772 * (cbv - 128) + 0.5)
        j = i * 3
        out[j] = 0 if r < 0 else (255 if r > 255 else r)
        out[j + 1] = 0 if g < 0 else (255 if g > 255 else g)
        out[j + 2] = 0 if b < 0 else (255 if b > 255 else b)
    return bytes(out)


# -- encoders (fixture/test side) -------------------------------------------

# Annex K.3 luminance Huffman tables (the standard ones every camera uses)
_DC_COUNTS = bytes([0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0])
_DC_SYMBOLS = bytes(range(12))
_AC_COUNTS = bytes([0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D])
_AC_SYMBOLS = bytes([
    0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12, 0x21, 0x31, 0x41, 0x06,
    0x13, 0x51, 0x61, 0x07, 0x22, 0x71, 0x14, 0x32, 0x81, 0x91, 0xA1, 0x08,
    0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0, 0x24, 0x33, 0x62, 0x72,
    0x82, 0x09, 0x0A, 0x16, 0x17, 0x18, 0x19, 0x1A, 0x25, 0x26, 0x27, 0x28,
    0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38, 0x39, 0x3A, 0x43, 0x44, 0x45,
    0x46, 0x47, 0x48, 0x49, 0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59,
    0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68, 0x69, 0x6A, 0x73, 0x74, 0x75,
    0x76, 0x77, 0x78, 0x79, 0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89,
    0x8A, 0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3,
    0xA4, 0xA5, 0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6,
    0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7, 0xC8, 0xC9,
    0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1, 0xE2,
    0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF1, 0xF2, 0xF3, 0xF4,
    0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA,
])


def _encode_codes(counts: bytes, symbols: bytes) -> dict[int, tuple[int, int]]:
    codes: dict[int, tuple[int, int]] = {}
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(counts[length - 1]):
            codes[symbols[k]] = (code, length)
            code += 1
            k += 1
        code <<= 1
    return codes


class _BitWriter:
    def __init__(self):
        self.out = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, value: int, nbits: int):
        self.acc = (self.acc << nbits) | (value & ((1 << nbits) - 1))
        self.nbits += nbits
        while self.nbits >= 8:
            self.nbits -= 8
            b = (self.acc >> self.nbits) & 0xFF
            self.out.append(b)
            if b == 0xFF:
                self.out.append(0x00)       # byte stuffing
        self.acc &= (1 << self.nbits) - 1

    def flush(self):
        if self.nbits:
            self.write((1 << (8 - self.nbits)) - 1, 8 - self.nbits)

    def emit_rst(self, n: int):
        """Byte-align with 1-fill bits, then the RSTn marker (raw — RST
        markers are never byte-stuffed)."""
        self.flush()
        self.out += bytes([0xFF, 0xD0 + (n & 7)])


def _size_of(v: int) -> int:
    return v.bit_length() if v >= 0 else (-v).bit_length()


def _seg(marker: int, body: bytes) -> bytes:
    """One marker segment: 0xFF, the marker, the 16-bit length, the body."""
    return bytes([0xFF, marker]) + struct.pack(">H", len(body) + 2) + body


def _write_diff(writer: _BitWriter, dc_codes, diff: int):
    """Huffman-code one DC (or lossless DPCM) difference: the SSSS
    category symbol, then SSSS magnitude bits (F.1.2.1)."""
    size = _size_of(diff)
    code, ln = dc_codes[size]
    writer.write(code, ln)
    if size:
        writer.write(diff if diff > 0 else diff + (1 << size) - 1, size)


def _encode_block(writer: _BitWriter, q: list[int], pred: int,
                  dc_codes, ac_codes) -> int:
    """Huffman-code one zigzag-ordered quantized block (F.1.2); returns
    the new DC predictor."""
    _write_diff(writer, dc_codes, q[0] - pred)
    # AC run-length coding
    last_nz = 0
    for k in range(63, 0, -1):
        if q[k]:
            last_nz = k
            break
    run = 0
    for k in range(1, last_nz + 1):
        if q[k] == 0:
            run += 1
            continue
        while run > 15:
            code, ln = ac_codes[0xF0]           # ZRL
            writer.write(code, ln)
            run -= 16
        size = _size_of(q[k])
        code, ln = ac_codes[(run << 4) | size]
        writer.write(code, ln)
        v = q[k]
        writer.write(v if v > 0 else v + (1 << size) - 1, size)
        run = 0
    if last_nz < 63:
        code, ln = ac_codes[0x00]               # EOB
        writer.write(code, ln)
    return q[0]


def _block_at(plane: bytes, w: int, h: int, bx: int, by: int) -> list[float]:
    """Centered 8×8 block with edge-replication padding."""
    block = []
    for yy in range(8):
        py = min(by * 8 + yy, h - 1)
        for xx in range(8):
            px = min(bx * 8 + xx, w - 1)
            block.append(plane[py * w + px] - 128.0)
    return block


def _quantize_block(plane: bytes, w: int, h: int, bx: int, by: int,
                    qt: list[int]) -> list[int]:
    """FDCT + quantize one centered block to zigzag-ordered ints — the one
    quantization every encoder here shares, which is what makes
    decode(arithmetic) == decode(progressive) == decode(Huffman) exact."""
    coef = fdct2d(_block_at(plane, w, h, bx, by))
    return [int(round(coef[ZIGZAG[k]] / qt[k])) for k in range(64)]


def _dct_components(w: int, h: int, planes: list[bytes], sh: int,
                    sv: int) -> list[tuple[bytes, int, int, int, int]]:
    """Check the planes of a DCT encoder — [gray] (w×h) or [Y, Cb, Cr]
    with full-resolution luma and PRE-SUBSAMPLED chroma at ceil(w/sh) ×
    ceil(h/sv), luma sampling (sh, sv) ∈ {1,2}² — and return, per
    component, (plane, plane w, plane h, blocks across, blocks down per
    MCU)."""
    ncomp = len(planes)
    if sh not in (1, 2) or sv not in (1, 2) \
            or (ncomp == 1 and (sh, sv) != (1, 1)):
        raise ValueError("sampling factors must be 1 or 2 (1 for gray)")
    cw, ch = (w + sh - 1) // sh, (h + sv - 1) // sv
    if ncomp not in (1, 3) or len(planes[0]) != w * h \
            or any(len(p) != cw * ch for p in planes[1:]):
        raise ValueError("plane buffers do not match dims")
    return [(planes[0], w, h, sh, sv)] + [(p, cw, ch, 1, 1)
                                          for p in planes[1:]]


def _dct_frame(marker: int, w: int, h: int, comps, qt: list[int]) -> bytes:
    """SOI, the one flat quantization table and the frame header (SOFn)
    of a DCT encoder's components."""
    return b"\xff\xd8" + _seg(0xDB, bytes([0x00]) + bytes(qt)) \
        + _seg(marker, bytes([8]) + struct.pack(">HH", h, w)
               + bytes([len(comps)])
               + b"".join(bytes([c + 1, (nx << 4) | ny, 0])
                          for c, (_, _, _, nx, ny) in enumerate(comps)))


def encode_jpeg_sequential(w: int, h: int, planes: list[bytes],
                           sh: int = 1, sv: int = 1, quant: int = 16,
                           restart_interval: int = 0, arith: bool = False,
                           dc_cond: tuple[int, int] = (0, 1),
                           kx: int = 5) -> bytes:
    """A real sequential-DCT JPEG (T.81 Annex F): float FDCT, flat
    quantization table (all entries = ``quant``), one interleaved scan.

    ``planes`` is [gray] (w×h) or [Y, Cb, Cr]: full-resolution luma and
    PRE-SUBSAMPLED chroma at ceil(w/sh) × ceil(h/sv). Luma sampling
    (sh, sv) ∈ {1,2}², chroma (1,1): 1/1 is 4:4:4, 2/1 is 4:2:2, 2/2 is
    4:2:0. Each MCU codes sv×sh luma blocks then one block per chroma
    plane, with edge-replicated padding. Fixtures pick the plane values
    directly, so the blockwise-constant-even exactness property holds per
    plane and the decoder's upsample + BT.601 output stays closed-form.

    ``arith=False`` writes SOF0 with the Annex K Huffman tables and a
    byte-stuffed stream. ``arith=True`` writes SOF9, coded by the Annex D
    adaptive binary arithmetic coder (core/jpegarith.py) — luma on
    statistics areas 0, chroma sharing areas 1 — with the DAC
    conditioning ``dc_cond`` (L, U) and ``kx`` on every area (a DAC
    segment only when non-default). Both code the same quantized
    coefficients, so they decode to the same pixels.
    ``restart_interval`` > 0 emits DRI + RSTn markers every that many
    MCUs with the coder reset (the camera-JPEG error-resilience layout)."""
    comps = _dct_components(w, h, planes, sh, sv)
    ncomp = len(comps)
    qt = [quant] * 64
    areas = [0] + [1] * (ncomp - 1)
    if arith:
        from docext_spark.core.jpegarith import ArithScanEncoder
        enc = ArithScanEncoder([{"dc": a, "ac": a} for a in areas],
                               dict.fromkeys(areas, dc_cond),
                               dict.fromkeys(areas, kx))
        code_block, restart = enc.encode_block, enc.restart
    else:
        writer = _BitWriter()
        preds = [0] * ncomp
        dc_codes = _encode_codes(_DC_COUNTS, _DC_SYMBOLS)
        ac_codes = _encode_codes(_AC_COUNTS, _AC_SYMBOLS)

        def code_block(ci: int, q: list[int]):
            preds[ci] = _encode_block(writer, q, preds[ci],
                                      dc_codes, ac_codes)

        def restart(n: int):
            writer.emit_rst(n)
            preds[:] = [0] * ncomp
    mcu_no = 0
    for my in range((h + 8 * sv - 1) // (8 * sv)):
        for mx in range((w + 8 * sh - 1) // (8 * sh)):
            if restart_interval and mcu_no \
                    and mcu_no % restart_interval == 0:
                restart((mcu_no // restart_interval - 1) % 8)
            mcu_no += 1
            for ci, (plane, pw, ph, nx, ny) in enumerate(comps):
                for bi in range(ny):
                    for bj in range(nx):
                        code_block(ci, _quantize_block(
                            plane, pw, ph, mx * nx + bj, my * ny + bi, qt))
    if arith:
        entropy = enc.finish()
        # DAC entries only for non-default conditioning (F.1.4.4.1.4)
        dac = b"".join(
            (bytes([a, (dc_cond[1] << 4) | dc_cond[0]])
             if dc_cond != (0, 1) else b"")
            + (bytes([0x10 | a, kx]) if kx != 5 else b"")
            for a in sorted(set(areas)))
        tables = _seg(0xCC, dac) if dac else b""
    else:
        writer.flush()
        entropy = bytes(writer.out)
        tables = _seg(0xC4, bytes([0x00]) + _DC_COUNTS + _DC_SYMBOLS) \
            + _seg(0xC4, bytes([0x10]) + _AC_COUNTS + _AC_SYMBOLS)
    out = _dct_frame(0xC9 if arith else 0xC0, w, h, comps, qt) + tables
    if restart_interval:
        out += _seg(0xDD, struct.pack(">H", restart_interval))
    out += _seg(0xDA, bytes([ncomp])
                + b"".join(bytes([c + 1, 0x11 * a if arith else 0x00])
                           for c, a in enumerate(areas))
                + bytes([0, 63, 0]))
    return out + entropy + b"\xff\xd9"


# Progressive AC scans need EOBn symbols ((r<<4)|0 for r>0), which Annex
# K's baseline table does not define — progressive files ship their own
# tables. This one is deliberately trivial: every (run, size) symbol at a
# flat 9 bits (176 codes ≤ 511, the all-ones code unused) — valid
# canonical Huffman, terrible compression, perfect for fixtures.
_PROG_AC_SYMBOLS = bytes((r << 4) | s for r in range(16) for s in range(11))
_PROG_AC_COUNTS = bytes([0] * 8 + [len(_PROG_AC_SYMBOLS)] + [0] * 7)


class _EobRun:
    """Encoder-side EOB-run + buffered-correction-bit state (libjpeg's
    EOBRUN/BE): refinement bits buffered during a run are emitted right
    after the EOBn symbol, exactly as the decoder replays them."""

    def __init__(self, wtr: _BitWriter, ac_codes):
        self.wtr = wtr
        self.ac_codes = ac_codes
        self.run = 0
        self.bits: list[int] = []

    def flush(self):
        if self.run > 0:
            r = self.run.bit_length() - 1
            code, ln = self.ac_codes[r << 4]
            self.wtr.write(code, ln)
            if r:
                self.wtr.write(self.run - (1 << r), r)
            self.run = 0
        for b in self.bits:
            self.wtr.write(b, 1)
        self.bits.clear()


def _encode_ac_first(wtr: _BitWriter, ac_codes, blocks, ss: int, se: int,
                     al: int):
    """AC first scan (G.1.2.2): run/size over abs>>Al magnitudes with
    cross-block EOB runs."""
    eob = _EobRun(wtr, ac_codes)
    for q in blocks:
        r = 0
        for k in range(ss, se + 1):
            v = q[k]
            m = (-v if v < 0 else v) >> al
            if m == 0:
                r += 1
                continue
            eob.flush()
            while r > 15:
                code, ln = ac_codes[0xF0]
                wtr.write(code, ln)
                r -= 16
            size = m.bit_length()
            code, ln = ac_codes[(r << 4) | size]
            wtr.write(code, ln)
            wtr.write(m if v > 0 else (1 << size) - 1 - m, size)
            r = 0
        if r > 0:
            eob.run += 1
            if eob.run == 0x7FFF:
                eob.flush()
    eob.flush()


def _encode_ac_refine(wtr: _BitWriter, ac_codes, blocks, ss: int, se: int,
                      al: int):
    """AC refinement scan (G.1.2.3): newly-significant coefficients coded
    as run/1 + sign over ZERO-HISTORY runs, correction bits for already-
    nonzero coefficients buffered and emitted after each symbol (or after
    the EOBn of a run)."""
    eob = _EobRun(wtr, ac_codes)
    for q in blocks:
        mags = [((-v if v < 0 else v) >> al) for v in q]
        last_new = 0
        for k in range(ss, se + 1):
            if mags[k] == 1:
                last_new = k                 # newly significant here
        r = 0
        pend: list[int] = []                 # this block's correction bits
        for k in range(ss, se + 1):
            m = mags[k]
            if m == 0:
                r += 1
                continue
            # the ZRL check runs at EVERY nonzero coefficient — including
            # history-nonzero correction positions — exactly as libjpeg's
            # jcphuff.c does, or a correction coefficient beyond the 16th
            # zero of a long run desynchronizes the decoder's zero-history
            # skip (code-review r5: reproduced pixel corruption)
            while r > 15 and k <= last_new:
                eob.flush()
                code, ln = ac_codes[0xF0]
                wtr.write(code, ln)
                for b in pend:
                    wtr.write(b, 1)
                pend.clear()
                r -= 16
            if m > 1:                        # history nonzero: correction
                pend.append(m & 1)
                continue
            # newly significant (m == 1)
            eob.flush()
            code, ln = ac_codes[(r << 4) | 1]
            wtr.write(code, ln)
            wtr.write(1 if q[k] > 0 else 0, 1)
            for b in pend:
                wtr.write(b, 1)
            pend.clear()
            r = 0
        if r > 0 or pend:
            eob.run += 1
            eob.bits.extend(pend)
            if eob.run == 0x7FFF:
                eob.flush()
    eob.flush()


def encode_jpeg_progressive(w: int, h: int, planes: list[bytes],
                            sh: int = 1, sv: int = 1,
                            quant: int = 16) -> bytes:
    """A real PROGRESSIVE JPEG (SOF2, T.81 Annex G) over the same
    ``planes``, sampling and flat quantization as encode_jpeg_sequential,
    with the classic spectral-selection + successive-approximation scan
    script:

        1. DC first (Al=1), interleaved over every component
        2. per component, AC first (Al=1) per band
        3. DC refine (Ah=1 → Al=0, raw bits), interleaved
        4. per component, AC refine per band

    The AC bands are 1-5 and 6-63 for gray, 1-63 for colour. Progressive
    coding is a LOSSLESS re-arrangement of the same quantized
    coefficients, so decode(progressive) == decode(encode_jpeg_sequential)
    for EVERY input — the equality the tests pin."""
    comps = _dct_components(w, h, planes, sh, sv)
    ncomp = len(comps)
    qt = [quant] * 64
    mcux = (w + 8 * sh - 1) // (8 * sh)
    mcuy = (h + 8 * sv - 1) // (8 * sv)
    # per component: the block grid padded to whole MCUs (interleaved DC
    # scans also code the padding blocks, edge-replicated like the
    # sequential encoder), and the blocks inside ceil(dims / 8) that a
    # single-component AC scan codes
    grids = [[[_quantize_block(plane, pw, ph, bx, by, qt)
               for bx in range(mcux * nx)] for by in range(mcuy * ny)]
             for plane, pw, ph, nx, ny in comps]
    visible = [[q for row in grid[:(ph + 7) // 8] for q in row[:(pw + 7) // 8]]
               for grid, (_, pw, ph, _, _) in zip(grids, comps)]
    mcu_order = [(ci, grids[ci][my * ny + bi][mx * nx + bj])
                 for my in range(mcuy) for mx in range(mcux)
                 for ci, (_, _, _, nx, ny) in enumerate(comps)
                 for bi in range(ny) for bj in range(nx)]
    bands = ((1, 5), (6, 63)) if ncomp == 1 else ((1, 63),)
    dc_codes = _encode_codes(_DC_COUNTS, _DC_SYMBOLS)
    ac_codes = _encode_codes(_PROG_AC_COUNTS, _PROG_AC_SYMBOLS)

    out = _dct_frame(0xC2, w, h, comps, qt)
    out += _seg(0xC4, bytes([0x00]) + _DC_COUNTS + _DC_SYMBOLS) \
        + _seg(0xC4, bytes([0x10]) + _PROG_AC_COUNTS + _PROG_AC_SYMBOLS)

    def scan(header: bytes, fill) -> bytes:
        wtr = _BitWriter()
        fill(wtr)
        wtr.flush()
        return _seg(0xDA, header) + bytes(wtr.out)

    def dc_first(wtr: _BitWriter):
        # arithmetic shift: floor semantics match the decoder's
        # pred << 1 + refinement-bit reconstruction exactly
        preds = [0] * ncomp
        for ci, q in mcu_order:
            v = q[0] >> 1
            _write_diff(wtr, dc_codes, v - preds[ci])
            preds[ci] = v

    def dc_refine(wtr: _BitWriter):
        for _, q in mcu_order:
            wtr.write(q[0] & 1, 1)

    dc_header = bytes([ncomp]) + b"".join(bytes([c + 1, 0x00])
                                          for c in range(ncomp))
    for ah, al, dc_fill, ac_coder in ((0, 1, dc_first, _encode_ac_first),
                                      (1, 0, dc_refine, _encode_ac_refine)):
        out += scan(dc_header + bytes([0, 0, (ah << 4) | al]), dc_fill)
        for ci in range(ncomp):
            for ss, se in bands:
                out += scan(bytes([1, ci + 1, 0x00, ss, se, (ah << 4) | al]),
                            lambda wtr: ac_coder(wtr, ac_codes, visible[ci],
                                                 ss, se, al))
    return out + b"\xff\xd9"


def encode_jpeg_lossless(w: int, h: int, planes: list[bytes],
                         predictor: int = 4, pt: int = 0) -> bytes:
    """A real LOSSLESS JPEG (SOF3, T.81 Annex H): per-sample DPCM with
    the selected predictor (1-7), differences Huffman-coded as Annex K
    DC SSSS categories (8-bit diffs never exceed SSSS 9, well inside the
    table), optional point transform Pt (samples coded at reduced
    precision — only multiples of 2^Pt round-trip exactly; Pt=0 is exact
    for EVERY input). ``planes`` is [gray] or [c0, c1, c2] full-res
    planes; 3-component samples carry no colour transform (see
    decode_jpeg). Prediction runs through the same _px_predict the
    decoder uses, so encode→decode is an identity at Pt=0 by
    construction — the property the tests fuzz across all 7 predictors."""
    if predictor not in range(1, 8) or not 0 <= pt <= 7:
        raise ValueError("predictor must be 1-7, pt 0-7")
    if len(planes) not in (1, 3) or any(len(p) != w * h for p in planes):
        raise ValueError("need 1 or 3 plane buffers of w*h bytes")
    dc_codes = _encode_codes(_DC_COUNTS, _DC_SYMBOLS)
    writer = _BitWriter()
    default = 128 >> pt
    shifted = [bytearray(v >> pt for v in p) for p in planes]
    recon = [bytearray(w * h) for _ in planes]
    for yy in range(h):
        row = yy * w
        for xx in range(w):
            for ci, plane in enumerate(shifted):
                px = _px_predict(recon[ci], w, xx, yy, predictor, default)
                diff = plane[row + xx] - px
                _write_diff(writer, dc_codes, diff)
                recon[ci][row + xx] = (px + diff) & 0xFF
    writer.flush()

    ncomp = len(planes)
    out = b"\xff\xd8" + _seg(0xC4, bytes([0x00]) + _DC_COUNTS + _DC_SYMBOLS)
    out += _seg(0xC3, bytes([8]) + struct.pack(">HH", h, w) + bytes([ncomp])
                + b"".join(bytes([c + 1, 0x11, 0]) for c in range(ncomp)))
    out += _seg(0xDA, bytes([ncomp])
                + b"".join(bytes([c + 1, 0x00]) for c in range(ncomp))
                + bytes([predictor, 0, pt]))
    return out + bytes(writer.out) + b"\xff\xd9"
