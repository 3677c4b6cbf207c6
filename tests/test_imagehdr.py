"""core/imagehdr: pure-Python header decode on real bytes (no PIL), plus
the native-expression PNG path and the mapInPandas perception surface."""
from __future__ import annotations

import struct

from pyspark.sql import functions as F

from docext_spark.core import imagehdr as ih


def test_png_roundtrip_and_sniff():
    b = ih.make_png(1920, 1080, b"pixels")
    assert ih.sniff_format(b) == "png"
    assert ih.png_dims(b) == (1920, 1080)
    assert ih.parse_dims(b) == ("png", 1920, 1080)


def test_jpeg_marker_walk_skips_variable_segments():
    """Dims must come from walking the marker stream, not a fixed offset:
    insert COM + DQT segments of different lengths before the SOF0 and the
    decoder must still find it."""
    base = ih.make_jpeg(640, 480)
    soi, rest = base[:2], base[2:]
    com = b"\xff\xfe" + struct.pack(">H", 2 + 11) + b"a comment!!"
    dqt = b"\xff\xdb" + struct.pack(">H", 2 + 65) + bytes(65)
    assert ih.parse_dims(soi + com + dqt + rest) == ("jpeg", 640, 480)
    # progressive marker (SOF2) is a frame header too
    prog = bytearray(base)
    prog[20 + 1] = 0xC2
    assert ih.parse_dims(bytes(prog)) == ("jpeg", 640, 480)


def test_gif_dims_little_endian():
    assert ih.parse_dims(ih.make_gif(320, 200)) == ("gif", 320, 200)


def test_corrupt_inputs_return_none_never_raise():
    cases = [
        None, b"", b"not an image at all",
        ih.make_png(10, 10)[:20],                      # truncated IHDR
        b"\x89PNG\r\n\x1a\n" + b"\x00" * 16,           # sig but no IHDR
        b"\xff\xd8\xff\xd9",                           # SOI then EOI, no SOF
        b"\xff\xd8" + b"\x00" * 10,                    # non-marker garbage
        ih.make_jpeg(1, 1)[:24],                       # truncated mid-SOF
        ih.make_png(0, 10),                            # zero width invalid
    ]
    for payload in cases:
        assert ih.parse_dims(payload) is None, payload


def test_extract_features_decodes_real_bytes(spark):
    from docext_spark.operators.multimodal import extract_features
    rows = [
        (1, "image", ih.make_png(800, 600, b"xyz")),
        (2, "image", ih.make_jpeg(320, 240)),
        (3, "image", b"corrupt payload"),
        (4, "audio", None),
    ]
    media = spark.createDataFrame(rows,
                                  "media_id long, kind string, payload binary")
    got = {r["media_id"]: r for r in extract_features(media).collect()}
    assert (got[1]["format"], got[1]["width"], got[1]["height"]) \
        == ("png", 800, 600)
    assert (got[2]["format"], got[2]["width"], got[2]["height"]) \
        == ("jpeg", 320, 240)
    assert got[3]["format"] is None and got[3]["width"] is None
    assert got[4]["n_bytes"] == 0
    assert len(got[1]["feature"]) == 8


def test_png_dims_native_matches_python_decoder(spark):
    """The JVM-native decode (substring-on-binary → hex → conv) must agree
    with the Python parser on the same real bytes; non-PNG decodes null."""
    from docext_spark.operators.multimodal import png_dims_native
    rows = [(i, ih.make_png(100 + i * 37, 9000 + i, b"f" * i))
            for i in range(20)]
    rows.append((99, ih.make_jpeg(10, 10)))
    # malformed-but-PNG-signature payloads must decode to null, matching
    # the python twin (signature + IHDR + positive-dim checks all enforced)
    rows.append((98, ih.PNG_SIG + b"\x00" * 16))   # junk first chunk
    rows.append((97, ih.make_png(0, 10)))          # zero width invalid
    # PNG dims are limited to 2**31-1 (spec 7.1): a larger u32 is not a
    # PNG, and the native cast must null it instead of failing the task
    big = [(96, ih.make_png(3_992_977_415, 10)), (95, ih.make_png(10, 2**31)),
           (94, ih.make_png(2**31 - 1, 2**31 - 1))]
    assert [ih.png_dims(p) for _, p in big] == [None, None,
                                                (2**31 - 1, 2**31 - 1)]
    rows += big
    df = spark.createDataFrame(rows, "media_id int, payload binary")
    out = {r["media_id"]: r["d"] for r in
           df.select("media_id",
                     png_dims_native(F.col("payload")).alias("d")).collect()}
    for mid, payload in rows:
        expect = ih.png_dims(payload)
        if expect:
            assert (out[mid]["width"], out[mid]["height"]) == expect
        else:
            assert out[mid] is None
