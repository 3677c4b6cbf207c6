"""Fused LSH verify vs the two-step path on flood buckets either side of
the default cap, in a JVM of its own.

test_dedup_similarity.py::test_lsh_verified_pairs_equals_two_step runs
this with a 2 GB driver heap: the check then also shows that a bucket the
default cap admits can be verified in that heap, and the ~10^6 flood
pairs it scores do not grow the shared test session's heap.

    SPARK_DRIVER_MEM=2g python tests/flood_equivalence.py DOCUMENTS_PARQUET

prints one JSON line per (engine, cap).
"""
from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

PAIR_COLS = ["id_a", "id_b", "inter", "union", "jaccard"]
FLOOD_ID0 = 10 ** 6


def flood_corpus(spark, documents: str, cap: int):
    """The documents plus two planted templates: cap + 1 copies of one
    (every band bucket one over the cap) and cap - 1 of another (one
    under it). Copies share a shingle set, so their signatures, and with
    them all band keys, are equal."""
    over = "flood alpha " + " ".join(f"tok{k}" for k in range(12))
    under = "spill beta " + " ".join(f"word{k}" for k in range(12))
    flood = spark.range(2 * cap).select(
        (F.col("id") + FLOOD_ID0).alias("doc_id"),
        F.when(F.col("id") <= cap, F.lit(over))
         .otherwise(F.lit(under)).alias("text"))
    return (spark.read.parquet(documents).select("doc_id", "text")
            .unionByName(flood))


def pair_summary(pairs) -> list:
    """[row count, xor of row hashes, sorted rows touching the corpus]:
    a flood bucket's ~5·10^5 pairs are compared by count and hash, every
    other pair row by row, without collecting the flood."""
    r = pairs.agg(
        F.count(F.lit(1)).alias("n"),
        F.bit_xor(F.xxhash64(*PAIR_COLS)).alias("h"),
        F.sort_array(F.collect_list(F.when(
            F.col("id_a") < FLOOD_ID0, F.struct(*PAIR_COLS)))).alias("rows")
    ).first()
    return [r["n"], r["h"], [list(x) for x in r["rows"]]]


def main(documents: str) -> None:
    from docext_spark.operators.dedup import (DEFAULT_MAX_BUCKET_SIZE,
                                              jaccard_for_pairs,
                                              lsh_candidate_pairs,
                                              lsh_verified_pairs)
    from docext_spark.session import get_spark
    spark = get_spark(app_name="flood_equivalence", master="local[4]")
    spark.sparkContext.setLogLevel("ERROR")
    df = flood_corpus(spark, documents, DEFAULT_MAX_BUCKET_SIZE).persist()
    df.count()
    for engine in ("xxhash64", "sha256"):
        for cap in ("default", None):
            kw = {"num_hashes": 8, "bands": 4, "engine": engine,
                  "max_bucket_size": DEFAULT_MAX_BUCKET_SIZE
                  if cap == "default" else None}
            fused = lsh_verified_pairs(df, threshold=0.5, **kw)
            two_step = jaccard_for_pairs(
                df, lsh_candidate_pairs(df, **kw), threshold=0.5)
            print(json.dumps({"engine": engine, "cap": cap,
                              "cap_size": DEFAULT_MAX_BUCKET_SIZE,
                              "columns": fused.columns,
                              "fused": pair_summary(fused),
                              "two_step": pair_summary(two_step)}),
                  flush=True)
    spark.stop()


if __name__ == "__main__":
    main(sys.argv[1])
