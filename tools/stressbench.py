"""Steady-state stress run — evidence for the BASELINE.md warm-throughput
claim at a scale where fixed overheads amortize (1M turns, 200x hot
conversation), unlike bench.py's conservative cold single-shots.

Usage:
  python tools/stressbench.py [n_convs] [--record]
      (default 100000 ≈ 1M turns)
  python tools/stressbench.py megaconv [n_turns] [--unchunked] [--record]
      ONE conversation of n_turns (default 12M) through the chunked
      reassembly path — the GB-scale-conversation evidence: no task ever
      holds more than one chunk (segment_size × segments_per_chunk turns).
      --unchunked additionally times reassemble_conversations(segmented)
      on the same input, which funnels ALL turns into one reducer row —
      the comparison point the chunked path exists to avoid.
Prints one JSON line. --record merges the result (with the start-of-run
load/PSI fields, VERDICT r5 #7) into BENCH/scaling.json under the
"steady_state" / "megaconv" key so rounds can diff the numbers instead of
re-reading prose.
"""
from __future__ import annotations

import json
import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from bench import is_contended  # noqa: E402  (single contention gate)


def _pressure_fields() -> dict:
    _, load1, load5, psi = is_contended()
    return {"loadavg_start": load1, "load5_start": load5,
            "psi_cpu_avg60_start": psi}


def _record(key: str, payload: dict,
            path: str = os.path.join(ROOT, "BENCH", "scaling.json")) -> None:
    existing = {}
    if os.path.exists(path):
        with open(path) as f:
            existing = json.load(f)
    existing[key] = payload
    with open(path, "w") as f:
        json.dump(existing, f, indent=2)


def _max_stage_peak_memory(spark) -> int | None:
    """Max per-stage peakExecutionMemory from the UI REST API (bytes);
    None if the UI is disabled."""
    try:
        import urllib.request
        base = spark.sparkContext.uiWebUrl
        if not base:
            return None
        with urllib.request.urlopen(f"{base}/api/v1/applications") as r:
            app_id = json.load(r)[0]["id"]
        with urllib.request.urlopen(
                f"{base}/api/v1/applications/{app_id}/stages?status=complete") as r:
            stages = json.load(r)
        return max((s.get("peakExecutionMemory", 0) for s in stages),
                   default=None)
    except Exception:
        return None


def megaconv():
    n_turns = 12_000_000
    args = [a for a in sys.argv[2:] if not a.startswith("--")]
    if args:
        n_turns = int(args[0])
    run_unchunked = "--unchunked" in sys.argv
    pressure = _pressure_fields()        # sampled BEFORE the run starts
    from pyspark.sql import functions as F

    from docext_spark.operators.reassemble import (
        reassemble_conversations, reassemble_conversations_chunked)
    from docext_spark.session import get_spark

    spark = get_spark(app_name="docext_spark_megaconv",
                      extra_conf={"spark.ui.enabled": "true"})
    turns = (spark.range(n_turns, numPartitions=128)
             .select(F.lit("mega").alias("conv_id"),
                     F.col("id").alias("turn_idx"),
                     F.concat(F.lit("turn body text number "),
                              F.col("id").cast("string"),
                              F.lit(" with some padding payload to make it "
                                    "realistic")).alias("md")))

    t0 = time.time()
    parts = reassemble_conversations_chunked(turns)
    stats = parts.select(
        F.count(F.lit(1)).alias("n_parts"),
        F.sum("n_turns").alias("sum_turns"),  # n_turns repeats per part
        F.max(F.length("conv_md")).alias("max_part_bytes"),
        F.sum(F.length("conv_md")).alias("total_bytes")).collect()[0]
    chunked_sec = time.time() - t0

    out = {
        "mode": "megaconv", "n_turns": n_turns, **pressure,
        "chunked_sec": round(chunked_sec, 1),
        "chunked_turns_per_sec": round(n_turns / chunked_sec, 1),
        "n_parts": stats["n_parts"],
        "max_part_mb": round(stats["max_part_bytes"] / 1e6, 1),
        "total_conv_gb": round(stats["total_bytes"] / 1e9, 2),
        "turns_accounted": stats["sum_turns"] // max(stats["n_parts"], 1),
        "peak_stage_memory_mb": (
            round(m / 1e6, 1)
            if (m := _max_stage_peak_memory(spark)) is not None else None),
    }
    if run_unchunked:
        t0 = time.time()
        (reassemble_conversations(turns)
         .select(F.length("conv_md").alias("len"))
         .write.mode("overwrite").format("noop").save())
        out["unchunked_sec"] = round(time.time() - t0, 1)
    print(json.dumps(out))
    if "--record" in sys.argv:
        _record("megaconv", out)
    spark.stop()


def main():
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    n_convs = int(args[0]) if args else 100000
    pressure = _pressure_fields()        # sampled BEFORE the run starts
    from docext_spark.operators.reassemble import reassemble_conversations
    from docext_spark.plans.pipeline import run_extraction
    from docext_spark.session import get_spark
    from docext_spark.synth import transcripts_df

    spark = get_spark(app_name="docext_spark_stress")
    tdf = transcripts_df(spark, n_convs=n_convs, median_turns=8,
                         hot_factor=200, partitions=128).cache()
    n = tdf.count()
    # warm python workers (one-time spawn+imports, amortized in real jobs)
    run_extraction(tdf.limit(2000)).write.mode("overwrite").format("noop").save()

    t0 = time.time()
    run_extraction(tdf).write.mode("overwrite").format("noop").save()
    extract_sec = time.time() - t0

    t0 = time.time()
    reassemble_conversations(run_extraction(tdf)) \
        .write.mode("overwrite").format("noop").save()
    e2e_sec = time.time() - t0

    out = {
        "n_turns": n, "hot_factor": 200, **pressure,
        "extract_turns_per_sec": round(n / extract_sec, 1),
        "extract_sec": round(extract_sec, 1),
        "e2e_turns_per_sec": round(n / e2e_sec, 1),
        "e2e_sec": round(e2e_sec, 1)}
    print(json.dumps(out))
    if "--record" in sys.argv:
        _record("steady_state", out)
    spark.stop()


if __name__ == "__main__":
    if len(sys.argv) > 1 and sys.argv[1] == "megaconv":
        megaconv()
    else:
        main()
