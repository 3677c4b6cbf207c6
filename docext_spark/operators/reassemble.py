"""W1 — stable conversation reassembly, skew-safe by segmentation.

The invariant (BASELINE.json north rule): per-turn text equality under
stable turn ordering — turns concatenate in ``turn_idx`` order regardless of
physical row order, mirroring the reference's per-page concatenation
(pdf2md.py:100-137).

Skew design (measured, see BENCH/BASELINE.md): classic hash-salting does NOT
fix skew for collect-style aggregation — the full payload still converges on
one reducer at the merge, and the extra shuffle doubles the work (measured
8.1s salted vs 3.1s direct at 98% single-conversation skew). What does help
is **segmentation**: phase 1 groups by (conv_id, turn_idx div B) so each
task sorts at most B structs in parallel and the phase-2 reducer receives
S = n/B pre-sorted segment rows instead of n individual turns; the final
merge is a linear flatten of pre-sorted segments — no O(n log n) single-task
sort, ~B× fewer shuffle records into the hot reducer. The conversation-level
string itself is irreducibly conversation-grained; segmentation minimizes
everything around it.

The output is pinned byte for byte against the pure-Python
``conversation_markdown`` (tests/test_pipeline_golden.py).
"""
from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

SEGMENT_SIZE = 1024


def _segment(base: DataFrame, segment_size: int) -> DataFrame:
    """Phase 1 shared by both reassembly paths: (conv_id, seg,
    part=array<struct<turn_idx, md>> sorted within the segment). A change
    to segment semantics must hit the chunked and unchunked paths together
    or their asserted byte-equality breaks."""
    return (base
            .withColumn("seg", (F.col("turn_idx") / F.lit(segment_size))
                        .cast("long"))
            .groupBy("conv_id", "seg")
            .agg(F.array_sort(F.collect_list(F.struct("turn_idx", "md")))
                  .alias("part")))


def _merged_segments():
    """Phase 2 aggregate → ``parts``: segments are disjoint ordered ranges,
    so sorting the group's segment rows by ``seg`` and flattening yields
    the fully ordered turn array without re-sorting the turns."""
    return F.flatten(
        F.transform(
            F.array_sort(F.collect_list(F.struct("seg", "part"))),
            lambda s: s["part"])).alias("parts")


def _with_header(arr_col):
    """array<struct<turn_idx, md>> (sorted) → conversation markdown with the
    reference's per-page header format (pdf2md.py:126-135)."""
    n = F.size(arr_col)
    parts = F.transform(
        arr_col,
        lambda x, i: F.concat_ws(
            "", F.lit("Page "), (i + 1).cast("string"), F.lit(" of "),
            n.cast("string"), F.lit("\n"), x["md"]))
    return F.array_join(parts, "\n")


def reassemble_conversations_chunked(turns: DataFrame,
                                     segment_size: int = SEGMENT_SIZE,
                                     segments_per_chunk: int = 64) -> DataFrame:
    """Bounded-row reassembly for conversations too large for one row.

    At 10^12-turn scale a single conversation's markdown can be many GB — no
    row (or reducer) should hold it whole. Output is
    (conv_id, part_idx, n_parts, n_turns, conv_md): each part carries at
    most segment_size*segments_per_chunk turns, per-turn headers keep their
    GLOBAL position/total (``Page {i+1} of {N}``), and concatenating parts
    in part_idx order with "\\n" reproduces the unchunked conv_md exactly
    (asserted in tests). No task ever sorts or concatenates more than one
    chunk's worth of turns.
    """
    from pyspark.sql import Window
    base = turns.select("conv_id", "turn_idx", "md")
    chunks = (_segment(base, segment_size)
              .withColumn("chunk", (F.col("seg") / F.lit(segments_per_chunk))
                          .cast("long"))
              .groupBy("conv_id", "chunk")
              .agg(_merged_segments()))
    # window stats run over a SLIM (conv_id, chunk, chunk_turns) frame
    # derived straight from the BASE table (a count aggregation — the
    # payload never enters it): partitioning by conv_id over rows carrying
    # the multi-GB parts would funnel whole conversations through one
    # reducer, and deriving stats from `chunks` would re-execute the heavy
    # collect/flatten a second time. The heavy rows rejoin on
    # (conv_id, chunk), so the expensive aggregation runs exactly once.
    w_conv = Window.partitionBy("conv_id")
    w_prev = (Window.partitionBy("conv_id").orderBy("chunk")
              .rowsBetween(Window.unboundedPreceding, -1))
    w_rank = Window.partitionBy("conv_id").orderBy("chunk")
    per_chunk = segment_size * segments_per_chunk
    stats = (base
             .withColumn("chunk", (F.col("turn_idx") / F.lit(per_chunk))
                         .cast("long"))
             .groupBy("conv_id", "chunk")
             .agg(F.count(F.lit(1)).alias("chunk_turns"))
             .withColumn("offset",
                         F.coalesce(F.sum("chunk_turns").over(w_prev),
                                    F.lit(0)))
             .withColumn("n_turns", F.sum("chunk_turns").over(w_conv))
             .withColumn("n_parts", F.count(F.lit(1)).over(w_conv))
             .withColumn("part_idx",
                         (F.row_number().over(w_rank) - 1).cast("long"))
             .drop("chunk_turns"))
    chunks = chunks.join(stats, ["conv_id", "chunk"])
    total = F.col("n_turns")
    offset = F.col("offset")
    md = F.array_join(
        F.transform(
            F.col("parts"),
            lambda x, i: F.concat_ws(
                "", F.lit("Page "), (offset + i + 1).cast("string"),
                F.lit(" of "), total.cast("string"), F.lit("\n"), x["md"])),
        "\n")
    return chunks.select("conv_id", "part_idx", "n_parts", "n_turns",
                         md.alias("conv_md"))


def reassemble_conversations(turns: DataFrame) -> DataFrame:
    """(conv_id, turn_idx, md, ...) → (conv_id, n_turns, conv_md), by the
    skew-safe two-phase plan."""
    merged = (_segment(turns.select("conv_id", "turn_idx", "md"),
                       SEGMENT_SIZE)
              .groupBy("conv_id")
              .agg(_merged_segments()))
    return merged.select(
        "conv_id",
        F.size("parts").alias("n_turns"),
        _with_header(F.col("parts")).alias("conv_md"))
