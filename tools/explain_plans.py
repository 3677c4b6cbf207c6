"""Dump formatted physical plans for the key queries → BENCH/PLANS.md.

Evidence artifact for the scale-posture claims: filter pushdown reaches the
parquet scan, column pruning holds through pUDFs, small dims broadcast,
whole-stage codegen spans native expressions, the reassembly aggregation is
two-phase.
"""
from __future__ import annotations

import sys

sys.path.insert(0, "/root/repo")

KEY_QUERIES = ["q1_pricing_summary", "q5_revenue_by_nation",
               "x1_turn_markdown", "flagship_reassembly",
               "dedup_lsh_pairs", "dedup_lsh_pairs_fast", "ann_cosine_topk",
               "dedup_cosine_lsh", "dedup_jaccard_capped", "x4_kie_fields",
               "dedup_lsh_flood_guard", "ann_ivf_topk", "s5_resize_dims",
               "sample_token_budget", "event_sessionization",
               "training_samples", "pack_sequences",
               "decontam_report", "decontam_filter", "asof_recent_view",
               "range_join_error_windows", "rollup_cascade"]

CLAIMS = {
    "q1_pricing_summary": "filter pushed to the scan (PushedFilters), only 6 of 11 columns read (ReadSchema)",
    "q5_revenue_by_nation": "all dimension joins BroadcastHashJoin; aggregation partials before the exchange",
    "x1_turn_markdown": "scan pruned to (doc_id, text) THROUGH the ArrowEvalPython node",
    "flagship_reassembly": "segmented two-phase aggregation: partial collect per (conv_id, seg), exchange, ordered merge",
    "dedup_lsh_pairs": "r7 single-pipeline shape: ONE corpus scan -> fan-out exchange -> ArrowEvalPython minhash UDF (sha256+mins worker-side, no explode) -> (band,key) bucket fold -> in-bucket pair generation; NO join node anywhere (the former self-join carried the full signature pipeline once per side)",
    "dedup_lsh_pairs_fast": "same single-pipeline bucket-fold shape; xxhash64 stays a native JVM expression (each long min is a map-side fold over the document's distinct shingle set: no shingle explode, no signature aggregate, no Python boundary)",
    "ann_cosine_topk": "broadcast of the query side; corpus streams through one map stage + top-k window",
    "dedup_cosine_lsh": "multi-table hyperplane buckets via the worker-side signature UDF (ArrowEvalPython; ZERO plane literals in the plan at any dim); candidates dedup BEFORE the exact re-rank; no cartesian anywhere",
    "dedup_jaccard_capped": "r7 grouped-pair shape: one shingle pipeline -> per-shingle member fold -> doc-freq cap as a size(ids) filter -> in-group pair explode + count; no self-join of the shingle table",
    "x4_kie_fields": "KIE long-format output with NO total Sort (display sort is opt-in at the sink boundary)",
    "dedup_lsh_flood_guard": "DEFAULT-config bucket cap as a size(ids) filter over ONE bucket fold shared by pair stats and hot stats; the static plan prints the (band,key) exchange subtree once per stat branch, and AQE stage reuse materializes it ONCE at runtime (A/B-verified equal to an explicit localCheckpoint) — the old shape carried FIVE full signature-pipeline copies",
    "ann_ivf_topk": "centroids packed into ONE broadcast array row (BroadcastNestedLoopJoin of a single-row relation — all-centroid scoring has no equi-key); assignment is a map-only per-row array_min, NO k-way explode and NO assignment shuffle; probed-list corpus x query join is BroadcastHashJoin",
    "s5_resize_dims": "dims decoded from PNG bytes with native expressions only: no ArrowEvalPython / MapInPandas node anywhere in the plan",
    "sample_token_budget": "two-pass token-budget sampling: corpus total as a BROADCAST scalar into a map-only hash filter — no one-task running-total window, no Sort",
    "event_sessionization": "canonical one-shuffle lag/cumsum sessionization: single Exchange on user_id, map-side partial aggregation, EXACT decimal(18,6) session sums (no round(sum(double)) — the r5 hash-flake class)",
    "training_samples": "sessionize + budget chunking + sample aggregate off ONE hashpartitioning(user_id) exchange — the groupBy REUSES the window partitioning (keys are a superset); zero Python nodes",
    "pack_sequences": "one content-addressed hash group per task: single Exchange on grp into per-group FlatMapGroupsInPandas — bounded state, the corpus never concentrates on one worker",
    "decontam_report": "eval n-grams aggregated then BROADCAST (BroadcastHashJoin — the corpus is never shuffled to meet the eval set); corpus-side single Exchange on doc id for the per-doc fold",
    "decontam_filter": "cleanup anti-join: contaminated-id set (bounded by hits, not the corpus) broadcast — BroadcastHashJoin LeftAnti; the corpus itself is never shuffled (VERDICT r6 #6 plan pin)",
    "asof_recent_view": "union-window as-of: NO Join node at all — one Exchange hashpartitioning(user_id) feeding the last(ignorenulls) window; right-side pre-aggregation is its own config-scale exchange",
    "range_join_error_windows": "binned range join: an EQUI-join on (user_id, bin) with the exact containment predicate as the join residual (BroadcastHashJoin at this SF via AQE; degrades to a shuffled equi-join at scale) — no BroadcastNestedLoopJoin, no CartesianProduct",
    "rollup_cascade": "two-level algebraic rollup: hourly partial aggregate (map-side partials before its exchange) feeding the daily re-aggregation — the daily stage's input is the hourly aggregate, never the raw scan; LONG sums stay in whole-stage codegen",
}


def main():
    sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    import __spark_entry__ as entry
    from docext_spark.session import get_spark
    spark = get_spark(master="local[8]")
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    out = ["# PLANS — physical-plan evidence for the scale-posture claims",
           "", f"Generated by tools/explain_plans.py on {sf}.", ""]
    for name in KEY_QUERIES:
        df = entry.queries()[name](spark, sf)
        plan = df._jdf.queryExecution().explainString(mode)
        # keep the tree + the load-bearing scan/join/exchange detail lines
        lines = []
        for ln in plan.splitlines():
            if any(k in ln for k in ("Scan", "Join", "Exchange", "Aggregate",
                                     "ArrowEvalPython", "Window", "PushedFilters",
                                     "ReadSchema", "WholeStageCodegen", "TakeOrdered")):
                lines.append(ln.rstrip()[:160])
        out += [f"## {name}", "", f"*Claim:* {CLAIMS[name]}", "", "```",
                *lines[:40], "```", ""]
    with open("/root/repo/BENCH/PLANS.md", "w") as f:
        f.write("\n".join(out))
    print("wrote BENCH/PLANS.md")
    spark.stop()


if __name__ == "__main__":
    main()
