"""The north invariant (SURVEY.md §5.2 item 1): per-turn byte equality
between the Spark pipeline and the pure-Python oracle, under stable turn
ordering; plus chunked == unchunked reassembly and lineage totals."""
from __future__ import annotations

from collections import defaultdict

import pytest

from docext_spark.core.convert import conversation_markdown, turn_to_markdown
from docext_spark.plans.pipeline import lineage_metrics, run_extraction, run_pipeline
from docext_spark.operators.reassemble import reassemble_conversations
from docext_spark.synth import generate_transcripts, transcripts_df

N_CONVS, MEDIAN, HOT = 12, 6, 8


@pytest.fixture(scope="module")
def turns_and_oracle(spark):
    df = transcripts_df(spark, n_convs=N_CONVS, median_turns=MEDIAN,
                        hot_factor=HOT, partitions=8)
    extracted = run_extraction(df).cache()
    rows = generate_transcripts(n_convs=N_CONVS, median_turns=MEDIAN,
                                hot_factor=HOT)
    oracle = {(r["conv_id"], r["turn_idx"]): turn_to_markdown(r["text"])
              for r in rows}
    return extracted, oracle


def test_per_turn_byte_equality(turns_and_oracle):
    extracted, oracle = turns_and_oracle
    got = extracted.select("conv_id", "turn_idx", "md", "kind",
                           "classifier_decisions").collect()
    assert len(got) == len(oracle)
    for row in got:
        exp = oracle[(row["conv_id"], row["turn_idx"])]
        assert row["md"] == exp["md"], (row["conv_id"], row["turn_idx"])
        assert row["kind"] == exp["kind"]
        assert row["classifier_decisions"] == exp["classifier_decisions"]


def test_spans_match_oracle(turns_and_oracle):
    extracted, oracle = turns_and_oracle
    got = extracted.select("conv_id", "turn_idx", "spans").collect()
    for row in got:
        exp = oracle[(row["conv_id"], row["turn_idx"])]["spans"]
        assert [(s["label"], s["start"], s["end"]) for s in row["spans"]] == exp


def test_conversation_reassembly_order(turns_and_oracle, spark):
    extracted, oracle = turns_and_oracle
    convs = {r["conv_id"]: r["conv_md"]
             for r in reassemble_conversations(extracted).collect()}
    byconv = defaultdict(list)
    for (cid, tid), o in oracle.items():
        byconv[cid].append((tid, o["md"]))
    for cid, items in byconv.items():
        items.sort()
        assert convs[cid] == conversation_markdown([m for _, m in items]), cid


def test_chunked_reassembly_reproduces_unchunked(turns_and_oracle):
    from docext_spark.operators.reassemble import (
        reassemble_conversations_chunked)
    extracted, _ = turns_and_oracle
    whole = {r["conv_id"]: r["conv_md"]
             for r in reassemble_conversations(extracted).collect()}
    turn_mds = defaultdict(list)
    for r in extracted.orderBy("conv_id", "turn_idx").collect():
        turn_mds[r["conv_id"]].append(r["md"])
    # tiny chunks force every conversation to split into many parts
    segment_size, segments_per_chunk = 4, 2
    chunked = reassemble_conversations_chunked(
        extracted, segment_size=segment_size,
        segments_per_chunk=segments_per_chunk).collect()
    by_conv = {}
    for r in chunked:
        by_conv.setdefault(r["conv_id"], []).append(r)
    for cid, parts in by_conv.items():
        parts.sort(key=lambda r: r["part_idx"])
        assert parts[0]["n_parts"] == len(parts)
        joined = "\n".join(p["conv_md"] for p in parts)
        assert joined == whole[cid], cid
        # walk the part's "Page k of N" headers, each followed by turn k's
        # markdown (which may hold such lines itself): a part holds at most
        # segment_size * segments_per_chunk turns, and its page numbers
        # continue the previous part's
        n = parts[0]["n_turns"]
        k = 1
        for p in parts:
            md, pos, first = p["conv_md"], 0, k
            while pos < len(md):
                turn = f"Page {k} of {n}\n" + turn_mds[cid][k - 1]
                assert md.startswith(turn, pos), (cid, p["part_idx"], k)
                pos += len(turn)
                assert md[pos:pos + 1] in ("", "\n"), (cid, p["part_idx"], k)
                pos += 1
                k += 1
            assert 1 <= k - first <= segment_size * segments_per_chunk, \
                (cid, p["part_idx"])
        assert k == n + 1, cid


def test_lineage_totals(turns_and_oracle):
    extracted, oracle = turns_and_oracle
    m = lineage_metrics(extracted).collect()
    assert sum(r["turns_processed"] for r in m) == len(oracle)
    assert sum(r["spans_emitted"] for r in m) == \
        sum(len(o["spans"]) for o in oracle.values())
    assert sum(r["classifier_decisions"] for r in m) == \
        sum(o["classifier_decisions"] for o in oracle.values())
    assert sum(r["parse_failures"] for r in m) == \
        sum(0 if o["parse_ok"] else 1 for o in oracle.values())


def test_empty_input(spark, tmp_path):
    from docext_spark.schema import TRANSCRIPT_SCHEMA
    empty = spark.createDataFrame([], schema=TRANSCRIPT_SCHEMA)
    res = run_pipeline(spark, empty, output_root=str(tmp_path / "out"))
    assert res["written"] == 0
    assert res["turns"].count() == 0
    assert res["convs"].count() == 0


def test_pipeline_releases_cache_on_checkpointed_path(spark, tmp_path):
    """With output_root set, every consumer of the cached extraction is
    materialized inside run_pipeline — the cache must be released before
    returning (executor storage leak otherwise), and the returned metrics
    frame must not recompute the extraction pUDF (localCheckpoint'ed)."""
    df = transcripts_df(spark, n_convs=4, median_turns=4, hot_factor=2,
                        partitions=4)
    jsc = spark.sparkContext._jsc
    before = jsc.getPersistentRDDs().size()
    result = run_pipeline(spark, df, output_root=str(tmp_path / "out"))
    assert result["written"] > 0
    assert result["metrics"].count() > 0  # usable after unpersist
    after = jsc.getPersistentRDDs().size()
    # the extraction cache is gone; metrics' localCheckpoint blocks are the
    # only storage allowed to remain
    assert after <= before + 1
