"""The flagship end-to-end pipeline (SURVEY.md §3.1/§3.2 Spark rebuild):

    scan transcripts → per-turn extraction pUDF → (a) per-turn results +
    per-partition lineage metrics → (b) segmented window reassembly →
    checkpointed write

Designed for 10^12 turns: the extraction stage is embarrassingly parallel
(no shuffle — map-only over the scan), the only shuffle is the conversation
reassembly groupBy, which is segmented two-phase to survive hot conversations;
lineage metrics ride the same pass (no second scan).
"""
from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from docext_spark.operators.extract import extract_turns
from docext_spark.operators.reassemble import reassemble_conversations
from docext_spark.sources.checkpoint import CheckpointedResults


def lineage_metrics(extracted: DataFrame) -> DataFrame:
    """A13 — per-partition lineage: turns processed, spans emitted,
    classifier decisions, parse failures. Native aggregation over
    spark_partition_id(), captured before any shuffle."""
    return (extracted
            .withColumn("part_id", F.spark_partition_id())
            .groupBy("part_id")
            .agg(F.count(F.lit(1)).alias("turns_processed"),
                 F.sum(F.size("spans")).cast("long").alias("spans_emitted"),
                 F.sum("classifier_decisions").cast("long").alias("classifier_decisions"),
                 F.sum(F.when(~F.col("parse_ok"), 1).otherwise(0)).cast("long")
                  .alias("parse_failures")))


def run_extraction(transcripts: DataFrame) -> DataFrame:
    """Per-turn extraction (map-only, no shuffle)."""
    return extract_turns(transcripts)


def run_pipeline(spark: SparkSession, transcripts: DataFrame,
                 output_root: str,
                 metrics_path: str | None = None) -> dict:
    """Full job. Per-turn results are written through the checkpoint
    protocol under ``output_root`` (resume = anti-join on committed keys).

    Returns {"turns": DataFrame, "convs": DataFrame, "metrics": DataFrame,
             "written": int}.
    """
    ckpt = CheckpointedResults(output_root)
    todo = ckpt.remaining(spark, transcripts)

    # persist: the extraction pUDF is the expensive stage and feeds both
    # the commit and the lineage aggregation — without this it would
    # re-execute per consumer
    extracted = run_extraction(todo).persist()
    written = ckpt.commit(
        extracted.select("conv_id", "turn_idx", "role", "md", "kind",
                         "blocks_kept", "blocks_dropped",
                         "classifier_decisions", "parse_ok"))
    all_turns = ckpt.committed(spark)

    # every consumer of the cached plan is materialized (commit wrote the
    # turns; convs/turns re-read the committed files): release the executor
    # storage. metrics is tiny (one row per input partition) —
    # localCheckpoint aggregates it once off the cached lineage before the
    # release, and both the metrics write below and the returned frame read
    # that checkpoint, so neither aggregates again or recomputes the
    # extraction pUDF.
    metrics = lineage_metrics(extracted).localCheckpoint(eager=True)
    extracted.unpersist()
    if metrics_path is not None:
        metrics.write.mode("append").parquet(metrics_path)

    return {"turns": all_turns, "convs": reassemble_conversations(all_turns),
            "metrics": metrics, "written": written}
