"""Hostile payloads through all five multimodal operators.

The operators run on untrusted bytes inside Spark tasks, so no payload may
fail a task: every decoded value either fits its column or is null. This
file builds one small valid fixture per format (PNG, still and animated
GIF, JPEG, BMP, TIFF, WebP, WAV, FLAC, MP4, MKV, Ogg, MP3), plus a TIFF
whose ImageWidth is a LONG past Int32, then derives seeded truncations and
byte flips from each and runs every operator over the lot, together with
rows whose media kind is neither image, audio nor video.
"""
from __future__ import annotations

import random
import struct

import pandas as pd
from pyspark.sql import types as T

from docext_spark.core import (bmppix, ebml, flacdec, gifpix, isobmff,
                               jpegpix, mpegaudio, oggmeta, pngpix, tiffpix,
                               vp8lpix, wavpcm)


def _tiff_wide(width):
    """A valid 2x2 gray TIFF with ImageWidth (the first IFD field, a
    LONG) rewritten to ``width``."""
    tif = bytearray(tiffpix.encode_tiff(2, 2, 1, bytes(range(4))))
    ifd = struct.unpack("<I", tif[4:8])[0]
    assert struct.unpack("<HH", tif[ifd + 2:ifd + 6]) == (256, 4)
    tif[ifd + 10:ifd + 14] = struct.pack("<I", width)
    return bytes(tif)


def _fixtures():
    """(kind, payload) for one small valid file of every format."""
    rgb = bytes((7 * i) % 256 for i in range(6 * 5 * 3))
    pal = [(0, 0, 0), (255, 0, 0), (0, 255, 0), (0, 0, 255)]
    saw = [((i * 997) % 4096) - 2048 for i in range(200)]
    frames = [dict(left=0, top=0, w=4, h=3,
                   indices=[i % 4 for i in range(12)], delay_ms=100),
              dict(left=1, top=1, w=2, h=2, indices=[1, 2, 3, 0],
                   delay_ms=50, disposal=2, transparent=0)]
    return [
        ("image", pngpix.encode_png(6, 5, 3, rgb)),
        ("image", gifpix.encode_gif(6, 5, pal, [i % 4 for i in range(30)])),
        ("image", gifpix.encode_gif_animated(4, 3, pal, frames, loop=3)),
        ("image", jpegpix.encode_jpeg_sequential(
            6, 5, [rgb[c::3] for c in range(3)])),
        ("image", bmppix.encode_bmp(6, 5, rgb)),
        ("image", tiffpix.encode_tiff(6, 5, 3, rgb)),
        ("image", _tiff_wide(2**31 + 5)),
        ("image", vp8lpix.encode_webp_lossless(6, 5, rgb)),
        ("audio", wavpcm.encode_wav(8000, 1, saw)),
        ("audio", flacdec.encode_flac(8000, 1, 16, saw, block_size=64)),
        ("video", isobmff.encode_mp4_meta(
            "mp42", 1000, 5000,
            [dict(track_id=1, handler="vide", codec="avc1", width=64,
                  height=48, timescale=30, duration=150)])),
        ("video", ebml.encode_matroska_meta(
            "webm", "mux", 500.0, 1_000_000,
            [dict(track_id=1, kind="video", codec="V_VP9", width=64,
                  height=48),
             dict(track_id=2, kind="audio", codec="A_OPUS",
                  sample_rate=48000, channels=2)])),
        ("audio", oggmeta.encode_ogg_meta("vorbis", 2, 44100, 88200)),
        ("audio", mpegaudio.encode_mp3_frames("1", 3, 0, [9, 10, 9])),
    ]


def _hostile_media(seed, flips=48, cuts=24):
    """Each fixture, ``cuts`` seeded truncations of it and ``flips``
    seeded single-byte overwrites, as (kind, payload) rows."""
    rng = random.Random(seed)
    rows = []
    for kind, good in _fixtures():
        rows.append((kind, good))
        rows += [(kind, good[:rng.randrange(len(good))])
                 for _ in range(cuts)]
        for _ in range(flips):
            b = bytearray(good)
            b[rng.randrange(len(b))] = rng.choice((0x00, 0x7F, 0x80, 0xEE,
                                                   0xFF, rng.randrange(256)))
            rows.append((kind, bytes(b)))
    return rows


_INT_RANGE = {T.IntegerType(): 2**31, T.LongType(): 2**63}


def test_hostile_payloads_never_fail_a_task(spark):
    from docext_spark.operators.multimodal import (audio_features,
                                                   container_metadata,
                                                   extract_features,
                                                   gif_frames,
                                                   resample_images)
    rows = _hostile_media(15)
    assert len(rows) >= 1000
    # a media kind outside image/audio/video, and a null one, null that
    # row's decode fields instead of failing the extract_features task
    png = pngpix.encode_png(2, 2, 1, bytes(range(4)))
    odd_kinds = {len(rows): "document", len(rows) + 1: None}
    rows += [(k, png) for k in odd_kinds.values()]
    media = spark.createDataFrame(
        pd.DataFrame([(i, k, p) for i, (k, p) in enumerate(rows)],
                     columns=["media_id", "kind", "payload"]),
        "media_id long, kind string, payload binary").repartition(4)
    wide = rows.index(("image", _tiff_wide(2**31 + 5)))
    features = {}
    for op in (extract_features, resample_images, audio_features,
               gif_frames, container_metadata):
        df = op(media)
        got = df.collect()
        ints = [(f.name, _INT_RANGE[f.dataType]) for f in df.schema.fields
                if f.dataType in _INT_RANGE]
        for r in got:
            for name, lim in ints:
                assert r[name] is None or -lim <= r[name] < lim, (op, r)
        # every operator but gif_frames emits at least one row per input
        if op is not gif_frames:
            assert {r["media_id"] for r in got} == set(range(len(rows)))
        if op in (extract_features, resample_images):
            row = next(r for r in got if r["media_id"] == wide)
            assert row["width"] is None
            features[op] = {r["media_id"]: (r["feature"], r["feature_src"])
                            for r in got}
        if op is extract_features:
            for r in got:
                if r["media_id"] in odd_kinds:
                    assert r["kind"] == odd_kinds[r["media_id"]]
                    assert (r["format"], r["width"], r["height"]) == (
                        None, None, None)
    # resample_images carries extract_features' feature from its own
    # decode, so a caller needs only one of the two operators
    assert features[resample_images] == features[extract_features]
    assert {src for _, src in features[extract_features].values()} == {
        "bytes", "pixels"}
