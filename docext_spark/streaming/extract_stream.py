"""Streaming flagship extraction — the per-turn extraction pUDF inside
Structured Streaming with exactly-once file-sink semantics and checkpoint
resume.

At 10^12-turn scale the transcript table is also a FEED (new conversations
land continuously); the same map-only extraction plan that runs in batch
(plans/pipeline.run_extraction — zero shuffle, scan → pUDF → project) runs
unchanged as a stream: Structured Streaming splits the input into
file-granular microbatches, the file sink's _spark_metadata transaction
log commits each batch atomically, and the checkpoint makes a mid-stream
kill resume WITHOUT duplicating or losing a single turn (replayed batches
overwrite-commit idempotently; readers go through the metadata log, so
orphan files from an uncommitted batch are invisible).

Batch ≡ stream by construction: the transformation is the same
extract_turns call, so per-turn outputs are byte-equal to the batch run
(pinned by tests/test_streaming_extract.py).
"""
from __future__ import annotations

import time

from pyspark.sql import DataFrame, SparkSession

from docext_spark.operators.extract import extract_turns
from docext_spark.schema import TRANSCRIPT_SCHEMA
from docext_spark.sources.transcripts import RESULT_SCHEMA

# derived from the SAME StructType the Iceberg results table is DDL'd
# from — the stream projection cannot drift from the deployed schema
RESULT_COLS = [f.name for f in RESULT_SCHEMA.fields]


def start_extraction_stream(spark: SparkSession, input_dir: str,
                            checkpoint_dir: str, output_dir: str,
                            max_files_per_trigger: int | None = None):
    """Start (and return) the availableNow streaming query: parquet source
    → extract_turns pUDF → parquet sink. ``max_files_per_trigger`` bounds
    microbatch size (memory control at scale, and the lever tests use to
    force multiple batches so a mid-stream kill lands BETWEEN commits)."""
    reader = spark.readStream.schema(TRANSCRIPT_SCHEMA)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    turns = extract_turns(reader.parquet(input_dir)).select(*RESULT_COLS)
    return (turns.writeStream.outputMode("append").format("parquet")
            .option("path", output_dir)
            .option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True).start())


def run_extraction_stream(spark: SparkSession, input_dir: str,
                          checkpoint_dir: str, output_dir: str,
                          max_files_per_trigger: int | None = None
                          ) -> DataFrame:
    """Drain all available input (availableNow) and return the committed
    results. Rerunning with the same checkpoint processes only new files —
    the streaming twin of the batch anti-join resume."""
    q = start_extraction_stream(spark, input_dir, checkpoint_dir, output_dir,
                                max_files_per_trigger)
    q.awaitTermination()
    return spark.read.parquet(output_dir)


def kill_after_first_commit(q, poll_s: float = 0.05, timeout_s: float = 120.0):
    """Stop a running stream as soon as ≥1 microbatch has committed — the
    test harness for mid-stream-kill resume (a controlled stand-in for an
    executor/driver loss between commits)."""
    deadline = time.time() + timeout_s
    while time.time() < deadline:
        p = q.lastProgress
        if p is not None and p["numInputRows"] > 0:
            q.stop()
            q.awaitTermination()
            return
        if not q.isActive:  # drained before we could kill: still valid
            return
        time.sleep(poll_s)
    q.stop()
    raise TimeoutError("no microbatch committed before timeout")
