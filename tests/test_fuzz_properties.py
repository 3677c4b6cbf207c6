"""Property/fuzz tests (hypothesis): the kernels must be total functions —
any string payload converts deterministically, never raises (the per-page
error-stub contract, reference pdf2md.py:139-162: a bad payload yields a
stub, not a failure)."""
from __future__ import annotations

import json

from hypothesis import given, settings
from hypothesis import strategies as st

# derandomize: the driver's verify gate must be reproducible — a fresh
# random seed finding a novel input at gate time would be a flaky failure,
# not a controlled regression signal
settings.register_profile("ci", derandomize=True, deadline=None)
settings.load_profile("ci")

from docext_spark.core.convert import turn_to_markdown
from docext_spark.core.grits import factored_2dmss, lcs_similarity
from docext_spark.core.html2md import html_to_markdown
from docext_spark.core.jsonrepair import merge_list_of_dicts, repair_json
from docext_spark.core.tables import html_table_to_cells, parse_pipe_table
from docext_spark.core import textstats as ts

TEXT = st.text(max_size=400)
TAGGY = st.text(
    alphabet=st.sampled_from(list("<>/abcdiv ptrh123=\"'&;#!-\n|{}[],:")),
    max_size=300)


@given(TEXT | TAGGY)
@settings(max_examples=300, deadline=None)
def test_turn_to_markdown_total_and_deterministic(s):
    out1 = turn_to_markdown(s)
    out2 = turn_to_markdown(s)
    assert out1 == out2
    assert isinstance(out1["md"], str)
    assert out1["blocks_kept"] >= 0 and out1["blocks_dropped"] >= 0
    assert out1["classifier_decisions"] >= out1["blocks_kept"]
    for _label, start, end in out1["spans"]:
        assert 0 <= start <= end <= len(s)


@given(TAGGY)
@settings(max_examples=300, deadline=None)
def test_html_and_table_parsers_never_raise(s):
    html_to_markdown(s)
    html_table_to_cells(s)
    parse_pipe_table(s)


@given(TEXT)
@settings(max_examples=200, deadline=None)
def test_repair_json_total(s):
    out = repair_json(s)
    if out is not None:
        json.dumps(out)  # parse result is always JSON-serializable
    merge_list_of_dicts([{"a": 1}, {"a": 2}])


@given(st.text(max_size=80), st.text(max_size=80))
@settings(max_examples=200, deadline=None)
def test_lcs_similarity_bounds_and_symmetry(a, b):
    s = lcs_similarity(a, b)
    assert 0.0 <= s <= 1.0
    assert abs(lcs_similarity(b, a) - s) < 1e-12
    assert lcs_similarity(a, a) == 1.0


@given(st.lists(st.lists(st.text(max_size=6), min_size=1, max_size=3),
                min_size=1, max_size=3),
       st.lists(st.lists(st.text(max_size=6), min_size=1, max_size=3),
                min_size=1, max_size=3))
@settings(max_examples=60, deadline=None)
def test_grits_bounds(gt, pred):
    width = max(len(r) for r in gt)
    gt = [r + [""] * (width - len(r)) for r in gt]
    width = max(len(r) for r in pred)
    pred = [r + [""] * (width - len(r)) for r in pred]
    s = factored_2dmss(gt, pred)
    assert 0.0 <= s <= 1.0 + 1e-12
    assert factored_2dmss(gt, gt) == 1.0


@given(TEXT)
@settings(max_examples=200, deadline=None)
def test_textstats_total(s):
    assert ts.token_count(s) >= 0
    assert 0.0 <= ts.quality_score(s) <= 1.0 + 1e-9
    assert ts.lang_id(s) in ("en", "de", "fr", "es", "unknown")
    assert len(ts.fingerprint(s)) == 64
    sig = ts.minhash_signature(s, num_hashes=3)
    assert len(sig) == 3
    h = ts.simhash64(s)
    assert -(1 << 63) <= h < (1 << 63)


@given(st.binary(max_size=256))
@settings(max_examples=300, deadline=None)
def test_imagehdr_parse_total(payload):
    """parse_dims must be total on arbitrary bytes (a 100TB scan cannot die
    on one corrupt blob): never raises, and any result is a positive-dim
    triple whose format matches the sniff."""
    from docext_spark.core import imagehdr as ih
    out = ih.parse_dims(payload)
    if out is not None:
        fmt, w, h = out
        assert fmt in ("png", "jpeg", "gif")
        assert w > 0 and h > 0
        assert ih.sniff_format(payload) == fmt


@given(st.integers(1, 65535), st.integers(1, 65535), st.binary(max_size=64))
@settings(max_examples=100, deadline=None)
def test_imagehdr_builders_roundtrip(w, h, filler):
    from docext_spark.core import imagehdr as ih
    assert ih.parse_dims(ih.make_png(w, h, filler)) == ("png", w, h)
    assert ih.parse_dims(ih.make_jpeg(w, h, filler)) == ("jpeg", w, h)
    assert ih.parse_dims(ih.make_gif(w, h, filler)) == ("gif", w, h)


@given(st.integers(1, 12), st.integers(1, 12),
       st.sampled_from([1, 2, 3, 4]),
       st.lists(st.integers(0, 4), min_size=12, max_size=12),
       st.binary(max_size=160))
@settings(max_examples=40, deadline=None)
def test_png_roundtrip_and_decode_total(w, h, ch, filters, junk):
    """encode→decode is the identity for every dims×channels×filter mix,
    and decode never raises on arbitrary bytes (returns None instead)."""
    from docext_spark.core import pngpix
    px = bytes((x * 31 + y * 17 + c * 7) % 256
               for y in range(h) for x in range(w) for c in range(ch))
    b = pngpix.encode_png(w, h, ch, px, lambda y: filters[y % 12])
    assert pngpix.decode_png(b) == (w, h, ch, px)
    assert pngpix.decode_png(junk) is None or isinstance(
        pngpix.decode_png(junk), tuple)
    # truncation anywhere is survivable
    assert pngpix.decode_png(b[:len(b) // 2]) is None


@given(st.integers(1, 10), st.integers(1, 10),
       st.integers(1, 6), st.integers(1, 6), st.sampled_from([1, 3]))
@settings(max_examples=40, deadline=None)
def test_resize_nearest_total_and_exact(w, h, nw, nh, ch):
    """Every output pixel of the floor-map NN resample equals the mapped
    source pixel; the buffer is always exactly nw·nh·ch bytes."""
    from docext_spark.core import pngpix
    px = bytes((i * 13) % 256 for i in range(w * h * ch))
    out = pngpix.resize_nearest(w, h, ch, px, nw, nh)
    assert len(out) == nw * nh * ch
    for y in range(nh):
        for x in range(nw):
            sx, sy = (x * w) // nw, (y * h) // nh
            for c in range(ch):
                assert out[(y * nw + x) * ch + c] \
                    == px[(sy * w + sx) * ch + c]


@given(st.integers(8, 48000), st.sampled_from([1, 2, 4]),
       st.lists(st.integers(-32768, 32767), min_size=0, max_size=200),
       st.binary(max_size=120))
@settings(max_examples=40, deadline=None)
def test_wav_roundtrip_and_decode_total(rate, ch, samples, junk):
    from docext_spark.core import wavpcm
    # pad to a whole number of frames
    samples = samples[:len(samples) - len(samples) % ch]
    b = wavpcm.encode_wav(rate, ch, samples)
    assert wavpcm.decode_wav(b) == (rate, ch, 16, samples)
    assert wavpcm.decode_wav(junk) is None or isinstance(
        wavpcm.decode_wav(junk), tuple)
    assert wavpcm.decode_wav(b[:10]) is None
    f = wavpcm.wav_features(b)
    assert f is not None and f[4] == max((abs(s) for s in samples),
                                         default=0)


@given(st.integers(1, 10), st.integers(1, 10),
       st.integers(2, 64), st.integers(0, 1000), st.binary(max_size=120))
@settings(max_examples=40, deadline=None)
def test_gif_roundtrip_and_decode_total(w, h, ncol, seed, junk):
    from docext_spark.core import gifpix
    palette = [((c * 11 + seed) % 256, (c * 13 + 1) % 256, (c * 17 + 2) % 256)
               for c in range(ncol)]
    idx = [(x * 7 + y * 3 + seed) % ncol
           for y in range(h) for x in range(w)]
    b = gifpix.encode_gif(w, h, palette, idx)
    dec = gifpix.decode_gif(b)
    assert dec is not None and (dec[0], dec[1], dec[2]) == (w, h, 3)
    for i, ix in enumerate(idx):
        assert tuple(dec[3][i * 3:i * 3 + 3]) == palette[ix]
    assert gifpix.decode_gif(junk) is None or isinstance(
        gifpix.decode_gif(junk), tuple)


@given(st.integers(1, 3), st.integers(1, 3), st.integers(0, 500))
@settings(max_examples=25, deadline=None)
def test_jpeg_blockconst_roundtrip_exact(bw, bh, seed):
    """Blockwise-constant even grayscale JPEGs round-trip bit-exactly
    through the real entropy coder at any block-grid size."""
    from docext_spark.core import jpegpix
    w, h = bw * 8, bh * 8
    px = bytes(((((x // 8) * 3 + (y // 8) * 5 + seed) % 128) * 2)
               for y in range(h) for x in range(w))
    assert jpegpix.decode_jpeg(jpegpix.encode_jpeg_sequential(w, h, [px])) \
        == (w, h, 1, px)


@given(st.binary(max_size=200))
@settings(max_examples=60, deadline=None)
def test_jpeg_decode_total(junk):
    from docext_spark.core import jpegpix
    r = jpegpix.decode_jpeg(junk)
    assert r is None or isinstance(r, tuple)


@given(st.integers(1, 3), st.integers(1, 3), st.integers(0, 500),
       st.sampled_from([(2, 2), (2, 1), (1, 2)]))
@settings(max_examples=25, deadline=None)
def test_jpeg_subsampled_blockconst_roundtrip_exact(bw, bh, seed, samp):
    """Property: any blockwise-constant-even plane set round-trips exactly
    through the subsampled encoder → decoder at every supported luma
    sampling (4:2:0, 4:2:2, 4:4:0)."""
    from docext_spark.core import jpegpix
    sh, sv = samp
    w, h = bw * 8, bh * 8
    y = bytes((((x // 8) * 3 + (yy // 8) * 5 + seed) % 128) * 2
              for yy in range(h) for x in range(w))
    cw, ch = (w + sh - 1) // sh, (h + sv - 1) // sv
    cb = bytes((((x // 8) * 7 + seed) % 128) * 2
               for yy in range(ch) for x in range(cw))
    cr = bytes((((yy // 8) * 11 + seed) % 128) * 2
               for yy in range(ch) for x in range(cw))
    dec = jpegpix.decode_jpeg(
        jpegpix.encode_jpeg_sequential(w, h, [y, cb, cr], sh=sh, sv=sv))
    assert dec is not None and dec[:3] == (w, h, 3)
    import math
    rgb = dec[3]
    for i in range(0, w * h, 13):          # sampled positions keep it fast
        x, yy = i % w, i // w
        yv = y[i]
        cbv = cb[(yy * ch // h) * cw + (x * cw // w)]
        crv = cr[(yy * ch // h) * cw + (x * cw // w)]
        r = min(255, max(0, math.floor(yv + 1.402 * (crv - 128) + 0.5)))
        assert rgb[i * 3] == r, (i, samp)


_IDENT = st.from_regex(r"[a-z_][a-z0-9_]{0,8}", fullmatch=True)
_VAL = st.one_of(st.integers(-1000, 1000), st.booleans(), st.none(),
                 st.text(alphabet="abc XYZ'!", max_size=12))


@given(st.dictionaries(_IDENT, _VAL, min_size=1, max_size=5),
       st.dictionaries(_IDENT, _VAL, min_size=1, max_size=3),
       st.booleans(), st.booleans(), st.booleans())
@settings(max_examples=120, deadline=None)
def test_repair_json_recovers_documented_corruptions(d1, d2, unquote_keys,
                                                     pyconsts, concat):
    """Property: a dict serialized with the documented corruption modes
    (python-repr constants, unquoted keys, trailing comma, concatenated
    objects) is recovered exactly by repair_json."""
    import json as _json

    from docext_spark.core.jsonrepair import repair_json

    def corrupt(d):
        if pyconsts:
            # Python repr: True/False/None, single-quoted strings
            s = repr(d)
        else:
            s = _json.dumps(d)
        if unquote_keys:
            # combined with pyconsts this exercises unquoted keys AND
            # single-quoted string values in one payload (VERDICT r5 #9)
            for k in d:
                q = f"'{k}':" if pyconsts else f'"{k}":'
                s = s.replace(q, f"{k}:")
        return s[:-1] + ",}" if s.endswith("}") and d else s

    s = corrupt(d1)
    if concat:
        out = repair_json(s + "\n" + corrupt(d2))
        assert out == [d1, d2]
    else:
        assert repair_json(s) == d1


@given(st.dictionaries(
           _IDENT, st.sampled_from(["NaN", "Infinity", "-Infinity"]),
           min_size=1, max_size=4),
       st.booleans(), st.booleans(), st.booleans())
@settings(max_examples=80, deadline=None)
def test_repair_json_bare_nonfinite_values(d, single_quoted_keys,
                                           unquoted_keys, trailing):
    """Property (VERDICT r5 #9, reference benchmark.py:618-656 shapes):
    bare NaN / Infinity / -Infinity VALUES survive every repair pass
    unquoted — the bare-word quoting must exempt them (they are json.loads
    words, not strings) — under unquoted or single-quoted keys and
    trailing commas."""
    import math

    from docext_spark.core.jsonrepair import repair_json

    def key(k):
        if unquoted_keys:
            return k
        return f"'{k}'" if single_quoted_keys else f'"{k}"'

    body = ", ".join(f"{key(k)}: {v}" for k, v in d.items())
    s = "{" + body + (",}" if trailing else "}")
    out = repair_json(s)
    assert out is not None and set(out) == set(d)
    for k, v in d.items():
        if v == "NaN":
            assert isinstance(out[k], float) and math.isnan(out[k])
        else:
            assert out[k] == float(v)


_BAREWORD = st.from_regex(r"[a-z][a-z0-9_\-]{0,3}( [a-z0-9_\-]{1,4}){0,2}",
                          fullmatch=True).filter(
    lambda v: v not in {"true", "false", "null", "nan", "infinity"})


@given(st.dictionaries(_IDENT, _BAREWORD, min_size=1, max_size=4),
       st.booleans())
@settings(max_examples=80, deadline=None)
def test_repair_json_quotes_bare_word_values(d, unquoted_keys):
    """Property: bare-word values (incl. multi-word, {"a": yes way}) are
    quoted verbatim — while the reserved json words are NOT quoted (the
    exemption the NaN property above relies on)."""
    from docext_spark.core.jsonrepair import repair_json

    def key(k):
        return k if unquoted_keys else f'"{k}"'

    s = "{" + ", ".join(f"{key(k)}: {v}" for k, v in d.items()) + "}"
    assert repair_json(s) == d
