"""PII redaction + repetition signals (beyond-parity curation ops)."""
from __future__ import annotations

from pyspark.sql import functions as F

from docext_spark.operators.textops import (dup_line_frac, max_token_frac,
                                            pii_counts, redact_pii,
                                            repetition_gate)


def _one(spark, text, expr):
    df = spark.createDataFrame([(text,)], "t string")
    return df.select(expr(F.col("t")).alias("v")).collect()[0]["v"]


def test_redact_pii_all_kinds(spark):
    text = ("reach me at jane.doe+spam@mail.example.org or +1 (555) 010-4242"
            " server 192.168.0.17 card 4111111111111111 done")
    got = _one(spark, text, redact_pii)
    assert got == ("reach me at <EMAIL> or <PHONE>"
                   " server <IP> card <NUMBER> done")
    counts = {k: _one(spark, text, lambda c, k=k: pii_counts(c)[k])
              for k in ("email", "ip", "number", "phone")}
    assert counts == {"email": 1, "ip": 1, "number": 1, "phone": 1}


def test_redact_pii_no_false_positives_on_prose(spark):
    text = "version 2.0 of the spec ships in 2026 with 3 parts"
    assert _one(spark, text, redact_pii) == text


def test_redact_pii_preserves_dates_decimals_and_number_tables(spark):
    """Code-review regression: an unanchored phone pattern ate dates,
    decimals, and numeric table rows — all of which are DATA in a training
    corpus. The anchored pattern must leave them alone while still catching
    +country, (area), and dashed phone forms."""
    keep = ["released 2026-08-16 deadline",
            "pi is 3.14159265 exactly",
            "scores 10 20 30 40 end",
            "rows 7 2020 2021 2022 done",
            "ISBN 978-0-13-468599 ok"]
    for text in keep:
        assert _one(spark, text, redact_pii) == text, text
    for text in ["call +44 20 7946 0958 now",
                 "dial (020) 7946 0958 today",
                 "fax 555-010-4242 works",
                 "intl +1 (555) 010-4242 line"]:
        got = _one(spark, text, redact_pii)
        assert "<PHONE>" in got, (text, got)
        assert not any(ch.isdigit() for ch in got), (text, got)


def test_redact_pii_ip_octets_bounded(spark):
    """ADVICE r3: the IP pattern must bound octets to 0-255 — software
    version strings with a component > 255 are data, not PII. A dotted
    quad whose octets ALL fit 0-255 is a syntactically valid IP and stays
    redacted (no regex can tell 'version 1.2.3.4' from an address)."""
    keep = ["release 1.2.300.4 shipped",
            "build 300.1.2.3 tagged",
            "artifact 10.20.999.1 uploaded",
            "checksum 256.256.256.256 invalid"]
    for text in keep:
        assert _one(spark, text, redact_pii) == text, text
    for text in ["server 192.168.0.1 up",
                 "edge 255.255.255.255 mask",
                 "probe 10.0.200.199 ok"]:
        got = _one(spark, text, redact_pii)
        assert "<IP>" in got and not any(c.isdigit() for c in got), (text, got)


def test_repetition_signals(spark):
    assert _one(spark, "a\nb\na\nb", dup_line_frac) == 0.5
    assert _one(spark, "a\nb\nc\nd", dup_line_frac) == 0.0
    assert _one(spark, "x x x y", max_token_frac) == 0.75
    assert _one(spark, "spam " * 50 + "eggs", repetition_gate) is False
    assert _one(spark, "all tokens here are fully distinct words",
                repetition_gate) is True


def test_redact_pii_is_streaming_safe(spark, tmp_path):
    """The scrub is a pure projection, so it must run unchanged inside a
    Structured Streaming query (the ingest-time redaction shape: scrub
    before anything lands in the lake)."""
    in_dir, out_dir, ckpt = (str(tmp_path / d) for d in ("in", "out", "ck"))
    spark.createDataFrame(
        [(1, "write to a@b.io now"), (2, "clean row")],
        "doc_id int, text string").coalesce(1).write.parquet(in_dir)
    stream = (spark.readStream.schema("doc_id int, text string")
              .parquet(in_dir)
              .select("doc_id", redact_pii(F.col("text")).alias("text")))
    (stream.writeStream.format("parquet").option("path", out_dir)
     .option("checkpointLocation", ckpt)
     .trigger(availableNow=True).start().awaitTermination(120))
    got = {r["doc_id"]: r["text"] for r in spark.read.parquet(out_dir).collect()}
    assert got == {1: "write to <EMAIL> now", 2: "clean row"}


# Edge texts for the Spark-vs-Python twin check: ratio ties resolve in
# LANG_ORDER order, sub-threshold ratios give 'unknown', only ASCII
# whitespace separates tokens (NBSP does not), and trim removes spaces only.
_LID_EDGES = [
    "the der cat dog",                          # en/de tie → en
    "le el chat perro",                         # fr/es tie → fr
    "the " + " ".join(f"w{i}" for i in range(12)),  # 1/13 < 0.08 → unknown
    "",
    "   \t\n  ",
    "\tthe cat sat\n",                          # tab/newline survive trim
    None,
    "the\u00a0cat is\u00a0here",                # NBSP glues tokens
    "für die Katze und der Hund",               # non-ASCII stopword → de
    "THE Cat IS on THE mat, and IT is warm",
    "Der Hund ist im Haus und die Katze ist nicht hier",
    "12345 67890 !!! ???",
]


def test_text_features_match_python_twins(spark):
    """lang_id, quality_score and token_count (standalone and as the
    quality gate derives them from one token array) equal the
    core.textstats twins on crafted edge texts."""
    from docext_spark.core import textstats as ts
    from docext_spark.operators.textops import (lang_id, quality_score,
                                                token_count)
    from docext_spark.plans.curate import quality_gate

    df = spark.createDataFrame(list(enumerate(_LID_EDGES)),
                               "doc_id int, text string")
    t = F.col("text")
    alone = {r["doc_id"]: r for r in df.select(
        "doc_id", lang_id(t).alias("lang"), quality_score(t).alias("q"),
        token_count(t).alias("n")).collect()}
    gated = {r["doc_id"]: r for r in quality_gate(
        df, min_tokens=0, min_quality=0.0,
        langs=("en", "de", "fr", "es", "unknown")).collect()}
    assert sorted(gated) == sorted(alone) == list(range(len(_LID_EDGES)))
    for i, text in enumerate(_LID_EDGES):
        want = (ts.lang_id(text), ts.quality_score(text), ts.token_count(text))
        assert (alone[i]["lang"], alone[i]["q"], alone[i]["n"]) == want, text
        g = gated[i]
        assert (g["_lang"], g["_quality"], g["_n_tokens"]) == \
            (want[0], round(want[1], 6), want[2]), text
    assert [alone[i]["lang"] for i in range(3)] == ["en", "fr", "unknown"]
    assert alone[8]["lang"] == "de"
