"""Event-time windowed aggregation with watermarking.

The reference has no event-time semantics (SURVEY.md §2.9 — batch ≡ stream),
but the transcript/metrics feed at 10^12-turn scale does: turns arrive late
relative to ``ts``. This module provides the canonical pattern — watermark +
tumbling window — in both carriers:

- ``windowed_counts``: batch DataFrame version (oracle-checkable: tumbling
  windows are epoch-aligned, equal to date_trunc bucketing).
- ``windowed_counts_stream``: Structured Streaming version with
  ``withWatermark`` — late rows beyond the delay are dropped, closed windows
  emit exactly once (append mode).
"""
from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def windowed_counts(df: DataFrame, ts_col: str = "ts",
                    key_col: str = "role",
                    window: str = "1 hour") -> DataFrame:
    return (df.groupBy(F.window(F.col(ts_col), window).alias("w"),
                       F.col(key_col))
            .agg(F.count(F.lit(1)).alias("n"))
            .select(F.date_format("w.start", "yyyy-MM-dd HH:mm:ss")
                     .alias("window_start"),
                    key_col, "n"))


def windowed_counts_stream(spark: SparkSession, input_dir: str, schema,
                           checkpoint_dir: str, output_dir: str,
                           ts_col: str = "ts", key_col: str = "role",
                           window: str = "1 hour",
                           watermark: str = "30 minutes") -> DataFrame:
    """availableNow watermarked stream → durable parquet of CLOSED windows.

    Rows later than ``watermark`` behind the max seen event time are dropped;
    a window emits exactly once (append mode) when the watermark passes its
    end. Rerunning with the same checkpoint resumes — only new files and
    newly-closed windows are processed (the parquet sink supports
    checkpoint recovery; a memory sink does not).
    """
    stream = spark.readStream.schema(schema).parquet(input_dir)
    agg = windowed_counts(stream.withWatermark(ts_col, watermark), ts_col,
                          key_col, window)
    q = (agg.writeStream.outputMode("append").format("parquet")
         .option("path", output_dir)
         .option("checkpointLocation", checkpoint_dir)
         .trigger(availableNow=True).start())
    q.awaitTermination()
    return spark.read.parquet(output_dir)
