"""Curation through the per-JVM memoized expressions in three sessions of
one process: the first SparkContext, a new SparkContext in the same JVM,
and a new SparkContext in a relaunched JVM.

test_session.py::test_memo_survives_context_restart_and_jvm_relaunch runs
this in a child process, since it shuts the JVM down.

    python tests/jvm_memo_check.py

prints one JSON line per session: the curate funnel and kept ids, the
sha256 (pandas UDF) LSH verify rows, and whether the quality gate's
memoized Column is the one the previous session built.
"""
from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

STOP = ("the", "and", "of", "to", "in", "is")


def _word(g: int, i: int) -> str:
    """A letters-only word, distinct per (group < 10, index)."""
    return "q" + chr(97 + g) + "".join(chr(97 + int(d)) for d in str(i))


def corpus() -> list[tuple[int, str]]:
    """Per group: a base document, an exact duplicate of it and two
    near-duplicates (one and two words appended); then a German and a
    too-short document. Curation keeps each group's base."""
    rows = []
    for g in range(8):
        base = " ".join(STOP[i % 6] if i % 3 == 0 else _word(g, i)
                        for i in range(45))
        rows += [(g * 10, base), (g * 10 + 1, "  " + base.upper()),
                 (g * 10 + 2, base + " " + _word(g, 90)),
                 (g * 10 + 3, base + " " + _word(g, 90) + " " + _word(g, 91))]
    rows += [(900, "der die das und ist nicht ein " * 5), (901, "zxq wvu")]
    return rows


def run(spark) -> dict:
    from docext_spark.operators.dedup import lsh_verified_pairs
    from docext_spark.plans.curate import _gate_row, curate
    docs = spark.createDataFrame(corpus(), "doc_id long, text string")
    res = curate(docs)
    kept = sorted(r.doc_id for r in res["corpus"].collect())
    funnel = {r.stage: r.n_docs for r in res["funnel"].collect()}
    res["unpersist"]()
    sha = sorted(tuple(r) for r in lsh_verified_pairs(
        docs, num_hashes=8, bands=4, engine="sha256").collect())
    return {"kept": kept, "funnel": funnel, "sha256_pairs": sha,
            "gate_col": _gate_row("text", 5, 0.3, ("en",), None, None)}


def main() -> None:
    from pyspark import SparkContext

    from docext_spark.session import get_spark
    prev = None
    for phase in ("first", "context_restart", "jvm_relaunch"):
        if phase == "jvm_relaunch":
            gateway = SparkContext._gateway
            gateway.shutdown()
            gateway.proc.stdin.close()  # the JVM exits on stdin EOF
            gateway.proc.wait(timeout=60)
            SparkContext._gateway = SparkContext._jvm = None
        spark = get_spark(app_name="jvm_memo_check", master="local[2]")
        spark.sparkContext.setLogLevel("ERROR")
        out = run(spark)
        col = out.pop("gate_col")
        out["phase"] = phase
        out["reused_gate_col"] = col is prev
        prev = col
        print(json.dumps(out), flush=True)
        spark.stop()


if __name__ == "__main__":
    main()
