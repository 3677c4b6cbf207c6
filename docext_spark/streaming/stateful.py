"""Custom stateful streaming operator: per-conversation session tracking
via ``applyInPandasWithState``.

Maintains per-conv_id state (turns seen, html-kind count, max turn index)
across micro-batches and across RESTARTS (state lives in the checkpoint's
state store, partitioned by key — scales with executors). Emits a running
session summary per key per batch (update mode).

Note: ProcessingTimeTimeout-based session *closing* deadlocks under
``trigger(availableNow=True)`` (the timeout batch never fires once the
available data is drained), so closure detection belongs downstream on
event time; this operator uses NoTimeout.
"""
from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

STATE_SCHEMA = T.StructType([
    T.StructField("n_turns", T.LongType()),
    T.StructField("n_html", T.LongType()),
    T.StructField("max_turn_idx", T.IntegerType()),
])

OUTPUT_SCHEMA = T.StructType([
    T.StructField("conv_id", T.StringType()),
    T.StructField("n_turns", T.LongType()),
    T.StructField("n_html", T.LongType()),
    T.StructField("max_turn_idx", T.IntegerType()),
])


def _track(key: tuple, batches: Iterator[pd.DataFrame],
           state: GroupState) -> Iterator[pd.DataFrame]:
    (conv_id,) = key
    n_turns, n_html, max_idx = state.get if state.exists else (0, 0, -1)
    for pdf in batches:
        n_turns += len(pdf)
        n_html += int((pdf["kind"] == "html").sum())
        if len(pdf):
            max_idx = max(max_idx, int(pdf["turn_idx"].max()))
    state.update((n_turns, n_html, max_idx))
    yield pd.DataFrame([{"conv_id": conv_id, "n_turns": n_turns,
                         "n_html": n_html, "max_turn_idx": max_idx}])


def conversation_sessions_stream(spark: SparkSession, input_dir: str,
                                 schema, checkpoint_dir: str,
                                 output_dir: str) -> DataFrame:
    """availableNow run of the stateful tracker over (conv_id, turn_idx,
    kind) rows landing as parquet files. Session updates land in
    ``output_dir`` via foreachBatch (memory sinks cannot recover from a
    checkpoint); rerunning with the same checkpoint resumes the accumulated
    per-key state. Each micro-batch overwrites its own ``batch_id=<id>``
    partition, so a batch replayed after a crash between the sink write
    and the checkpoint commit replaces its rows instead of appending them
    twice (the decontam_stream layout). The current summary per conv_id
    is the max-batch_id row — parquet preserves no ordering, so "latest"
    must be an explicit column."""
    stream = (spark.readStream.schema(schema).parquet(input_dir)
              .select("conv_id", "turn_idx", "kind"))
    tracked = (stream.groupBy("conv_id")
               .applyInPandasWithState(_track, OUTPUT_SCHEMA, STATE_SCHEMA,
                                       "update",
                                       GroupStateTimeout.NoTimeout))

    def _sink(batch_df, batch_id):
        batch_df.write.mode("overwrite").parquet(
            f"{output_dir}/batch_id={batch_id}")

    q = (tracked.writeStream.foreachBatch(_sink)
         .outputMode("update")
         .option("checkpointLocation", checkpoint_dir)
         .trigger(availableNow=True).start())
    q.awaitTermination()
    return spark.read.option("basePath", output_dir).parquet(output_dir)
