"""End-to-end corpus curation: quality gate → exact dedup → fuzzy dedup
→ keep-one, with a hand-computable fixture."""
from __future__ import annotations

import pytest

from docext_spark.plans.curate import (curate, exact_dedup_keep_first,
                                       fuzzy_dedup_keep_first, quality_gate)

GOOD = ("the quick brown fox jumps over the lazy dog and then the dog "
        "walks away to find some food in the big green garden")


def _docs(spark):
    rows = [
        (1, GOOD),                               # keeper
        (2, GOOD),                               # exact dup of 1
        (3, "  THE   QUICK " + GOOD[10:]),       # normalized-exact dup of 1
        (4, GOOD.replace("garden", "meadow")),   # fuzzy dup of 1
        (5, "zxq wvu tsr"),                      # fails quality gate (short)
        (6, "der die das und ist nicht ein " * 5),  # fails lang gate (de)
        (7, "a completely different english document about the spark engine "
            "and how it keeps all of the data moving through the cluster"),
    ]
    return spark.createDataFrame(rows, "doc_id int, text string")


def test_quality_gate(spark):
    kept = {r["doc_id"] for r in quality_gate(_docs(spark)).collect()}
    assert 5 not in kept          # too short / low quality
    assert 6 not in kept          # german
    assert {1, 2, 3, 4, 7} <= kept


def test_exact_dedup_keeps_lowest_id(spark):
    out = {r["doc_id"] for r in
           exact_dedup_keep_first(_docs(spark)).collect()}
    assert 1 in out and 2 not in out and 3 not in out
    assert {4, 5, 6, 7} <= out    # non-dups untouched


def test_fuzzy_dedup_merges_near_dups(spark):
    docs = exact_dedup_keep_first(_docs(spark))
    out = {r["doc_id"] for r in fuzzy_dedup_keep_first(docs).collect()}
    assert 1 in out and 4 not in out   # near-dup cluster keeps min id
    assert 7 in out


def test_curate_funnel(spark):
    result = curate(_docs(spark))
    corpus = {r["doc_id"] for r in result["corpus"].collect()}
    assert corpus == {1, 7}
    funnel = {r["stage"]: r["n_docs"] for r in result["funnel"].collect()}
    assert funnel == {"0_input": 7, "1_quality_gate": 5,
                      "2_exact_dedup": 3, "3_fuzzy_dedup": 2}
    row = {r["doc_id"]: r for r in result["corpus"].collect()}[1]
    assert row["_lang"] == "en" and row["_n_tokens"] > 10


def test_curate_all_filtered_is_total(spark):
    """Every doc failing the quality gate → empty corpus, funnel intact,
    no stage errors on empty inputs."""
    junk = spark.createDataFrame(
        [(1, "zzz"), (2, ""), (3, None)], "doc_id int, text string")
    result = curate(junk)
    assert result["corpus"].count() == 0
    funnel = {r["stage"]: r["n_docs"] for r in result["funnel"].collect()}
    assert funnel == {"0_input": 3, "1_quality_gate": 0,
                      "2_exact_dedup": 0, "3_fuzzy_dedup": 0}


def test_curate_stage_path_matches_persisted(spark, tmp_path):
    """stage_path= (the 100TB shape: stages written to parquet, not cached
    in executor memory+disk) must produce the identical corpus and funnel
    as the in-memory staging path, and must leave the intermediates on
    disk as restart points."""
    import os
    staged = curate(_docs(spark), stage_path=str(tmp_path / "stages"))
    corpus = sorted((r["doc_id"], r["text"])
                    for r in staged["corpus"].collect())
    funnel = {r["stage"]: r["n_docs"] for r in staged["funnel"].collect()}
    baseline = curate(_docs(spark))
    assert corpus == sorted((r["doc_id"], r["text"])
                            for r in baseline["corpus"].collect())
    assert funnel == {r["stage"]: r["n_docs"]
                      for r in baseline["funnel"].collect()}
    baseline["unpersist"]()
    stages = sorted(os.listdir(tmp_path / "stages"))
    assert stages == ["stage_0", "stage_1", "stage_2"]
    staged["unpersist"]()  # must be a safe no-op in staged mode


def test_fuzzy_dedup_banding_derived_from_threshold(spark):
    """bands defaults to the MMDS S-curve plan for the jaccard threshold
    (lsh_plan wiring): at the default threshold=0.5 with 8 hashes the
    derived banding is (4 bands × 2 rows) — curve threshold exactly 0.5 —
    so the pinned funnel oracle is unchanged by the derivation."""
    from docext_spark.operators.dedup import lsh_plan
    assert lsh_plan(0.5, 8) == {"bands": 4, "rows_per_band": 2,
                                "curve_threshold": 0.5}
    # a high threshold derives FEWER bands (more rows per band)
    assert lsh_plan(0.85, 8)["bands"] == 2
    # and the derived default reproduces the hand-picked bands=4 result
    docs = exact_dedup_keep_first(_docs(spark))
    derived = {r["doc_id"] for r in fuzzy_dedup_keep_first(docs).collect()}
    explicit = {r["doc_id"] for r in
                fuzzy_dedup_keep_first(docs, bands=4).collect()}
    assert derived == explicit


def test_curate_redact_and_repetition_gate(spark):
    """redact=True scrubs PII from the OUTPUT text only (dedup keys still
    see original bytes, so docs differing only in their PII stay distinct);
    the opt-in repetition gate drops spammy docs at the quality stage."""
    rows = [
        (1, GOOD + " mail me at alice@example.com for details"),
        (2, GOOD + " mail me at bob@example.com for details"),  # distinct PII
        (3, "the " + "spam spam spam wonderful spam and the " * 8),  # repetitive
        (4, GOOD.replace("garden", "meadow") + " nothing sensitive here at all"),
    ]
    docs = spark.createDataFrame(rows, "doc_id int, text string")
    res = curate(docs, redact=True, max_dup_line_frac=0.3, max_tok_frac=0.2)
    got = {r["doc_id"]: r["text"] for r in res["corpus"].collect()}
    res["unpersist"]()
    # repetition gate dropped doc 3; fuzzy dedup merged 4 into 1's cluster?
    # (1,2 differ only in the redactable address — they must BOTH survive
    # dedup because keys run pre-redaction, then both come out scrubbed…
    # unless fuzzy dedup merges them as near-dups, which keeps the lowest)
    assert 3 not in got
    assert 1 in got
    assert "<EMAIL>" in got[1]
    assert "alice@example.com" not in got[1]
    for text in got.values():
        assert "@example.com" not in text


def _gate_docs(spark):
    """_docs plus a repetitive document (max token share 0.56), a document
    with repeated lines (dup-line share 0.5) and a six-token one."""
    extra = [(8, "the " + "spam spam spam wonderful spam and the " * 8),
             (9, (GOOD + "\n") * 3 + "one more line about the garden"),
             (10, "the cat sat on the mat")]
    return spark.createDataFrame(
        [tuple(r) for r in _docs(spark).collect()] + extra,
        "doc_id int, text string")


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


@pytest.mark.parametrize("arg, value", [
    ("min_tokens", 22), ("min_quality", 0.56), ("langs", ("de", "en")),
    ("max_dup_line_frac", 0.3), ("max_tok_frac", 0.4)])
def test_quality_gate_memo_keys_on_each_argument(spark, arg, value):
    """The gate's feature row is memoized per JVM; a call that changes one
    argument after another call returns the rows of a fresh build, and
    they differ from the first call's rows."""
    from docext_spark.plans.curate import _gate_row
    docs = _gate_docs(spark)
    base = dict(min_tokens=5, min_quality=0.3, langs=("en",),
                max_dup_line_frac=None, max_tok_frac=None)
    _gate_row.cache_clear()
    first = _rows(quality_gate(docs, **base))
    second = _rows(quality_gate(docs, **{**base, arg: value}))
    assert second != first
    _gate_row.cache_clear()
    assert second == _rows(quality_gate(docs, **{**base, arg: value}))


def test_quality_gate_memo_langs_order_list_and_tuple(spark):
    """``langs`` given as a list and as a tuple, in either order, keep the
    same documents as a fresh build; equal arguments reuse one Column."""
    from docext_spark.plans.curate import _gate_row
    docs = _gate_docs(spark)
    _gate_row.cache_clear()
    as_list = _rows(quality_gate(docs, langs=["de", "en"]))
    as_tuple = _rows(quality_gate(docs, langs=("en", "de")))
    _gate_row.cache_clear()
    assert as_tuple == _rows(quality_gate(docs, langs=("en", "de")))
    _gate_row.cache_clear()
    assert as_list == _rows(quality_gate(docs, langs=("de", "en"))) == as_tuple
    assert 6 in {r[0] for r in as_list}  # the German document
    assert (_gate_row("text", 5, 0.3, ("en",), None, None)
            is _gate_row("text", 5, 0.3, ("en",), None, None))


def test_curate_rebuild_py4j_budget(spark):
    """A second build of quality gate → exact dedup → LSH verify, with no
    action, reuses the per-JVM expressions: at most 1,000 py4j commands
    (an unmemoized build sends ~3,600). Only commands sent from the
    building thread count: py4j's finalizer thread sends the memory-delete
    commands of released JavaObjects (the warm-up build's among them) at
    times that race the count. gc is off during the count too."""
    import gc
    import threading

    import py4j.clientserver as cs

    from docext_spark.operators.dedup import lsh_verified_pairs

    docs = _docs(spark)

    def build():
        gated = quality_gate(docs)
        exact = exact_dedup_keep_first(gated)
        return lsh_verified_pairs(exact, num_hashes=8, bands=4,
                                  engine="xxhash64")

    build()
    sent = [0]
    send = cs.ClientServerConnection.send_command
    builder = threading.current_thread()

    def counting(self, command, *args, **kwargs):
        if threading.current_thread() is builder:
            sent[0] += 1
        return send(self, command, *args, **kwargs)

    gc.disable()
    cs.ClientServerConnection.send_command = counting
    try:
        build()
    finally:
        cs.ClientServerConnection.send_command = send
        gc.enable()
    assert 50 < sent[0] <= 1000, sent[0]
