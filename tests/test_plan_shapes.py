"""Physical-plan gates: the scale-posture claims in BENCH/PLANS.md as
enforced assertions, so a regression (a sneaky total sort, a cartesian, a
shuffled hot-set filter) fails CI instead of only dating the doc."""
from __future__ import annotations

import os
import re

import pytest
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"
pytestmark = pytest.mark.skipif(not os.path.isdir(SF),
                                reason="driver testdata not present")


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet")


def _query_plan(spark, name: str) -> str:
    """The executed plan of ``queries()[name]`` with expression and plan
    ids stripped, so node text can be matched literally."""
    import __spark_entry__ as entry
    return _strip_ids(_plan(entry.queries()[name](spark, SF)))


def _strip_ids(plan: str) -> str:
    return re.sub(r", \[plan_id=\d+\]|#\d+L?", "", plan)


def _below(plan: str, line_part: str) -> str:
    """The first line containing ``line_part`` and the subtree under it
    (the following lines indented deeper than it)."""
    lines = plan.splitlines()
    i = next(i for i, ln in enumerate(lines) if line_part in ln)
    depth = len(lines[i]) - len(lines[i].lstrip(" :|+-"))
    sub = [lines[i]]
    for ln in lines[i + 1:]:
        if len(ln) - len(ln.lstrip(" :|+-")) <= depth:
            break
        sub.append(ln)
    return "\n".join(sub)


_JOINS = ("SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin",
          "CartesianProduct", "BroadcastNestedLoopJoin")
_PYTHON_NODES = ("ArrowEvalPython", "BatchEvalPython", "MapInPandas",
                 "MapInArrow", "FlatMapGroupsInPandas")


def test_x4_kie_has_no_total_sort(spark):
    import __spark_entry__ as entry
    plan = _plan(entry.queries()["x4_kie_fields"](spark, SF))
    assert "Sort" not in plan  # display sort is opt-in, not in the oracle path


def test_cosine_lsh_has_no_cartesian(spark):
    from docext_spark.operators.similarity import embedding_near_dups
    emb = (spark.read.parquet(f"{SF}/embeddings.parquet")
           .withColumn("embedding", F.col("embedding").cast("array<double>")))
    plan = _plan(embedding_near_dups(emb, threshold=0.8, dim=64,
                                     n_planes=8, n_tables=2))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # while the exact baseline IS the (documented) cartesian
    exact_plan = _plan(embedding_near_dups(emb, threshold=0.8, exact=True))
    assert ("CartesianProduct" in exact_plan
            or "BroadcastNestedLoopJoin" in exact_plan)


def test_extraction_scan_prunes_columns(spark):
    """Column pruning must reach the parquet scan THROUGH the pUDF."""
    import __spark_entry__ as entry
    plan = _plan(entry.queries()["x1_turn_markdown"](spark, SF))
    scan = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert scan and "source" not in scan[0]  # unreferenced column pruned


def test_q5_dims_broadcast(spark):
    import __spark_entry__ as entry
    plan = _plan(entry.queries()["q5_revenue_by_nation"](spark, SF))
    assert plan.count("BroadcastHashJoin") >= 3


def test_lsh_pairs_single_pipeline_no_join(spark):
    """r7 shape: LSH candidate pairs come from per-bucket combination
    generation over ONE banded computation — no self-join of the banded
    table at all (the join formulation re-ran the scan→signature pipeline
    once per side), and the DEFAULT flood guard is a size(ids) filter on
    the grouped buckets, not a separate hot-key aggregate + anti-join."""
    from docext_spark.operators.dedup import lsh_candidate_pairs
    guarded = _plan(lsh_candidate_pairs(_docs(spark), num_hashes=8, bands=4))
    # no join of any kind — pairs are generated inside each bucket row
    for node in ("SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin",
                 "CartesianProduct", "BroadcastNestedLoopJoin"):
        assert node not in guarded, node
    # exactly one scan of the corpus (the old shape carried 2-4 copies)
    assert guarded.count("Scan parquet") == 1
    # the cap is a bucket-size filter in the default plan …
    # (probe the comparison, not just size(ids) — the pair generator
    # itself uses size(ids) in its slice bounds)
    from docext_spark.operators.dedup import DEFAULT_MAX_BUCKET_SIZE
    cap_probe = f"<= {DEFAULT_MAX_BUCKET_SIZE})"
    assert cap_probe in guarded
    # … and the explicit opt-out removes it
    off = _plan(lsh_candidate_pairs(_docs(spark), num_hashes=8, bands=4,
                                    max_bucket_size=None))
    assert cap_probe not in off


def test_lsh_verified_pairs_one_fold_no_join(spark):
    """The curate fuzzy stage's fused verify: the pairs are scored inside
    the (band, key) bucket rows, so the executed plan joins nothing and
    scans the corpus once; the default flood cap is a bucket-size filter
    and max_bucket_size=None removes it. The cap filters the banded rows
    below the fold (plan text lists a node's children after it), so an
    over-cap bucket's shingle sets are never collected into one row, and
    its windowed count reuses the fold's (band, key) exchange."""
    from docext_spark.operators.dedup import (DEFAULT_MAX_BUCKET_SIZE,
                                              lsh_verified_pairs)
    cap_probe = f"<= {DEFAULT_MAX_BUCKET_SIZE})"
    for engine in ("xxhash64", "sha256"):
        guarded = _plan(lsh_verified_pairs(_docs(spark), num_hashes=8,
                                           bands=4, engine=engine))
        for node in ("SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin",
                     "CartesianProduct", "BroadcastNestedLoopJoin"):
            assert node not in guarded, (engine, node)
        assert guarded.count("Scan parquet") == 1, engine
        assert guarded.count(cap_probe) == 1, engine
        fold = guarded.index("partial_collect_list")
        assert fold < guarded.index(cap_probe) < guarded.index("Window ["), \
            engine
        assert guarded.count("Exchange hashpartitioning(band") == 1, engine
        off = _plan(lsh_verified_pairs(_docs(spark), num_hashes=8, bands=4,
                                       engine=engine, max_bucket_size=None))
        assert cap_probe not in off, engine


def test_quality_gate_computes_each_feature_once(spark):
    """Each stopword ratio appears once in the gate's optimized plan (one
    array_contains per language, plus English again for the quality
    score): the token split is not re-inlined per feature reference."""
    from docext_spark.plans.curate import quality_gate
    plan = (quality_gate(_docs(spark))._jdf.queryExecution()
            .optimizedPlan().toString())
    assert plan.count("array_contains") <= 10
    assert plan.count("split(") == 1


def test_s5_native_png_decode_has_no_python_worker(spark):
    """s5 consumes dims decoded from PNG bytes via native expressions —
    the plan must contain no Python/Arrow eval node."""
    import __spark_entry__ as entry
    plan = _plan(entry.queries()["s5_resize_dims"](spark, SF))
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    assert "MapInPandas" not in plan


def test_ivf_topk_broadcasts_centroids_and_probed_queries(spark):
    """ivf_topk's assignment ships the centroid table via a broadcast
    (BroadcastNestedLoopJoin: all-centroid scoring has no equi-key) and the
    probed-list corpus×query join is a BroadcastHashJoin."""
    from docext_spark.operators.similarity import ivf_topk
    emb = (spark.read.parquet(f"{SF}/embeddings.parquet")
           .withColumn("embedding", F.col("embedding").cast("array<double>")))
    q = (emb.filter(F.col("vec_id") < 2)
         .select(F.col("vec_id").alias("qid"),
                 F.col("embedding").alias("qvec")))
    plan = _plan(ivf_topk(emb, q, k=3, n_lists=4, probe=2))
    assert "BroadcastNestedLoopJoin" in plan
    assert "BroadcastHashJoin" in plan


def test_training_samples_single_entity_shuffle(spark):
    """The training-sample plan's scale claim (BENCH/PLANS.md): sessionize
    (lag + cumsum) + budget chunking (one floor-division window) + the
    sample aggregate must all run off ONE hashpartitioning(user_id)
    exchange — the groupBy(user_id, session_idx, …) REUSES the window
    partitioning (its keys are a superset), so no second shuffle — and
    the whole plan stays native (zero Python nodes)."""
    import __spark_entry__ as entry
    plan = _plan(entry.queries()["training_samples"](spark, SF))
    assert plan.count("Exchange") == 1
    assert "hashpartitioning(user_id" in plan
    assert "ArrowEvalPython" not in plan and "MapInPandas" not in plan
    assert "FlatMapGroupsInPandas" not in plan


def test_event_sessionization_single_shuffle_decimal_sums(spark):
    """Sessionization is the canonical one-shuffle lag/cumsum shape, with
    map-side partial aggregation and EXACT decimal(18,6) session sums —
    the r5 driver-hash flake class (round(sum(double)) under
    scheduling-dependent summation order) must stay structurally gone."""
    import __spark_entry__ as entry
    plan = _plan(entry.queries()["event_sessionization"](spark, SF))
    assert plan.count("Exchange") == 1
    assert "partial_sum" in plan                  # map-side combine
    assert "decimal(18,6)" in plan                # exact, order-independent
    assert "round(sum(" not in plan


def test_pack_sequences_one_group_per_task(spark):
    """Packing holds ONE content-addressed hash group per task: a single
    exchange on grp feeding per-group applyInPandas — the corpus never
    concentrates on one worker and no extra shuffle sneaks in."""
    import __spark_entry__ as entry
    plan = _plan(entry.queries()["pack_sequences"](spark, SF))
    assert plan.count("Exchange") == 1
    assert "hashpartitioning(grp" in plan
    assert "FlatMapGroupsInPandas" in plan


def test_aqe_splits_planted_skew_join(spark):
    """Runtime skew posture: a 95%-hot-key fact×dim SortMergeJoin must come
    out of AQE with the hot partition SPLIT (SortMergeJoin(skew=true)).
    The probe aggregates over the payload length so column pruning cannot
    strip the shuffle down to bare keys — a bare-key shuffle has no bytes
    to be skewed, and AQE would (correctly) just coalesce it."""
    import re

    # these are runtime SQL confs — set on the shared session, restore after
    overrides = {
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "2MB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "2MB",
        "spark.sql.autoBroadcastJoinThreshold": "-1"}
    saved = {k: spark.conf.get(k, None) for k in overrides}
    for k, v in overrides.items():
        spark.conf.set(k, v)
    try:
        pay = F.concat(*[F.sha2(F.concat(F.col("id").cast("string"),
                                         F.lit(str(i))), 256)
                         for i in range(4)])
        fact = spark.range(400_000).select(
            F.when(F.col("id") % 20 != 0, F.lit(7))
             .otherwise(F.col("id") % 1000).alias("k"),
            pay.alias("v"))
        dim = spark.range(1000).select(F.col("id").alias("k"),
                                       F.sha2(F.col("id").cast("string"), 256)
                                        .alias("dv"))
        q = (fact.join(dim, "k")
             .select(F.sum(F.length("v") + F.length("dv")).alias("s")))
        [row] = q.collect()
        assert row["s"] == 400_000 * (4 * 64 + 64)  # 4 sha256 hex + 1
        final = q._jdf.queryExecution().executedPlan().toString()
        # r7: the session prefers shuffled-hash joins (no per-partition
        # sorts); AQE's skew splitter handles both join kinds — the pinned
        # invariant is the skew=true split, not the join flavor
        assert re.search(r"(SortMergeJoin|ShuffledHashJoin)\(skew=true\)",
                         final)
        assert "skewed" in final
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_q1_filter_pushed_and_columns_pruned(spark):
    """q1's shipdate filter reaches the parquet scan as a pushed filter,
    and the scan reads only the 6 columns the query uses."""
    import __spark_entry__ as entry
    df = entry.queries()["q1_pricing_summary"](spark, SF)
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode \
        .fromString("formatted")
    plan = df._jdf.queryExecution().explainString(mode)
    [pushed] = [ln for ln in plan.splitlines()
                if ln.startswith("PushedFilters")]
    assert "LessThanOrEqual(l_shipdate," in pushed
    [schema] = [ln for ln in plan.splitlines() if ln.startswith("ReadSchema")]
    cols = re.findall(r"(\w+):", schema.split("struct<", 1)[1])
    assert sorted(cols) == sorted(
        ["l_quantity", "l_extendedprice", "l_discount", "l_returnflag",
         "l_linestatus", "l_shipdate"])
    assert len(spark.read.parquet(f"{SF}/lineitem.parquet").columns) > 6


def test_flagship_reassembly_is_two_phase(spark):
    """The reassembly first collects each (conv_id, seg) segment map-side
    and shuffles on (conv_id, seg); only the sorted segment rows then
    cross a second exchange on conv_id, again behind a partial collect."""
    lines = _query_plan(spark, "flagship_reassembly").splitlines()

    def after(pattern):
        [i] = [i for i, ln in enumerate(lines) if re.search(pattern, ln)]
        return lines[i + 1]
    assert re.search(
        r"ObjectHashAggregate\(keys=\[conv_id, seg\], "
        r"functions=\[partial_collect_list\(struct\(turn_idx",
        after(r"Exchange hashpartitioning\(conv_id, seg, \d+\)"))
    assert re.search(
        r"ObjectHashAggregate\(keys=\[conv_id\], "
        r"functions=\[partial_collect_list\(struct\(seg",
        after(r"Exchange hashpartitioning\(conv_id, \d+\)"))


def test_lsh_pairs_fast_is_native_without_join(spark):
    """The xxhash64 LSH path keeps every hash a native JVM expression (no
    Python node) and generates pairs inside bucket rows (no join)."""
    plan = _query_plan(spark, "dedup_lsh_pairs_fast")
    for node in _PYTHON_NODES + _JOINS:
        assert node not in plan, node
    assert "xxhash64(" in plan


def test_jaccard_capped_has_no_shingle_self_join(spark):
    """Capped Jaccard folds each shingle's members into one row, drops
    groups over the doc-frequency cap with a size(ids) filter and explodes
    pairs inside the kept groups: no join is keyed on the shingle. The
    static plan repeats the shingle pipeline for the set sizes; at run
    time AQE reuses it, so the corpus is scanned once."""
    import __spark_entry__ as entry
    df = entry.queries()["dedup_jaccard_capped"](spark, SF)
    plan = _strip_ids(_plan(df))
    joins = [ln for ln in plan.splitlines()
             if any(j in ln for j in _JOINS)]
    assert joins and not any("shingle" in ln for ln in joins)
    pairs = _below(plan, "Generate explode(flatten(transform(ids")
    lines = pairs.splitlines()
    assert "Filter (size(ids, false) <= 50)" in lines[1]
    assert re.search(r"keys=\[shingle\], functions=\[collect_list", lines[2])
    df.collect()
    final = df._jdf.queryExecution().executedPlan().toString()
    assert final.split("== Initial Plan ==")[0].count("FileScan") == 1


def test_lsh_flood_guard_shares_one_bucket_fold(spark):
    """The default-config flood cap is a size(ids) filter over the (band,
    key) fold, once for the kept pairs and once for the hot-bucket stats.
    The static plan prints that fold's exchange once per branch (not one
    signature pipeline per statistic), and AQE reuses it at run time."""
    from docext_spark.operators.dedup import DEFAULT_MAX_BUCKET_SIZE as cap
    import __spark_entry__ as entry
    df = entry.queries()["dedup_lsh_flood_guard"](spark, SF)
    plan = _strip_ids(_plan(df))
    assert len(re.findall(r"Exchange hashpartitioning\(band, key, \d+\)",
                          plan)) == 2
    for cond in (f"<= {cap})", f"> {cap})"):
        lines = _below(plan, f"Filter (size(ids, false) {cond}").splitlines()
        assert re.search(r"keys=\[band, key\], functions=\[collect_list",
                         lines[1]), cond
    df.collect()
    final = _strip_ids(df._jdf.queryExecution().executedPlan().toString())
    final = final.split("== Initial Plan ==")[0]
    assert re.search(r"ReusedExchange .*Exchange hashpartitioning\(band, key",
                     final)


def test_ann_cosine_broadcasts_query_side(spark):
    """Brute-force top-k broadcasts the (filtered) query vectors; the
    corpus streams through one map stage with a partial top-k before the
    only hash exchange."""
    plan = _query_plan(spark, "ann_cosine_topk")
    assert plan.count("BroadcastExchange") == 1
    assert "(vec_id < 3)" in _below(plan, "BroadcastExchange")
    assert "BroadcastNestedLoopJoin BuildRight" in plan
    assert "CartesianProduct" not in plan and "SortMergeJoin" not in plan
    assert plan.count("Exchange hashpartitioning") == 1
    top = _below(plan, "Exchange hashpartitioning(qid")
    assert "WindowGroupLimit" in top and "Partial" in top


def test_sample_token_budget_has_no_running_total(spark):
    """Token-budget sampling broadcasts the corpus total as one scalar
    into a map-side filter: no Window and no Sort."""
    plan = _query_plan(spark, "sample_token_budget")
    assert "Window" not in plan and "Sort" not in plan
    assert "_total_tokens" in _below(plan, "BroadcastExchange")


def test_decontam_report_broadcasts_eval_ngrams(spark):
    """The eval n-grams are aggregated and broadcast; the corpus never
    shuffles on the n-gram to meet them, and its per-doc fold is the
    one exchange on the document id."""
    plan = _query_plan(spark, "decontam_report")
    assert "BroadcastHashJoin [shingle], [shingle], LeftOuter, BuildRight" \
        in plan
    assert plan.count("Exchange hashpartitioning(shingle") == 1
    assert "Exchange hashpartitioning(shingle" in _below(
        plan, "BroadcastExchange")
    assert len(re.findall(r"Exchange hashpartitioning\(id, \d+\)",
                          plan)) == 1


def test_decontam_filter_is_broadcast_anti_join(spark):
    """The cleanup filter is a broadcast LeftAnti join of the corpus
    against the contaminated ids; the corpus side reaches it straight
    from the scan, unshuffled."""
    plan = _query_plan(spark, "decontam_filter")
    join = _below(plan, "BroadcastHashJoin [doc_id], [doc_id], LeftAnti, "
                        "BuildRight").splitlines()
    assert "FileScan parquet" in join[1]


def test_asof_join_is_one_window_without_join(spark):
    """The as-of join is a union feeding a last(ignorenulls) window over
    one exchange on user_id; only the right side's pre-aggregation has
    an exchange of its own."""
    plan = _query_plan(spark, "asof_recent_view")
    assert "Join" not in plan
    assert len(re.findall(r"Exchange hashpartitioning\(user_id, \d+\)",
                          plan)) == 1
    assert plan.count("Exchange") == 2
    assert "last(__r, true)" in plan


def test_range_join_is_binned_equi_join(spark):
    """The range join is an equi-join on (user_id, bin) with the exact
    containment test as its residual: no nested-loop or cartesian join."""
    plan = _query_plan(spark, "range_join_error_windows")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    [join] = [ln for ln in plan.splitlines()
              if re.search(r"(BroadcastHash|ShuffledHash|SortMerge)Join", ln)]
    assert "[user_id, __bin], [user_id, __bin], Inner" in join
    assert "(win_start <= ts) AND (ts < win_end)" in join


def test_rollup_cascade_reaggregates_hourly_partials(spark):
    """The daily level re-aggregates the hourly aggregate (one scan), each
    level combining map-side before its exchange; at run time the LONG
    sums run inside whole-stage codegen."""
    import __spark_entry__ as entry
    df = entry.queries()["rollup_cascade"](spark, SF)
    plan = _strip_ids(_plan(df))
    assert plan.count("FileScan") == 1
    nodes = [ln.lstrip(" :|+-").split("(")[0].split(" ")[0]
             for ln in plan.splitlines()[1:]]
    assert nodes[:6] == ["HashAggregate", "Exchange", "HashAggregate",
                         "HashAggregate", "Exchange", "HashAggregate"]
    lines = plan.splitlines()
    for i, ln in enumerate(lines):
        if "Exchange" in ln:
            assert "partial_sum" in lines[i + 1]
    df.collect()
    final = _strip_ids(df._jdf.queryExecution().executedPlan().toString())
    final = final.split("== Initial Plan ==")[0]
    aggs = [ln for ln in final.splitlines() if "HashAggregate(" in ln]
    assert len(aggs) == 4 and all("*(" in ln for ln in aggs)
    assert any("as bigint)), count(1)" in ln for ln in aggs)


def test_pixels_leaves_decode_each_payload_once(spark):
    """Every ``*_pixels`` leaf reads dims, the resample and (with_f0) the
    histogram feature from one resample_images pass: one Python worker
    stage per payload, no second operator joined back on media_id and so
    no broadcast of its result."""
    import __spark_entry__ as entry
    leaves = [n for n in entry.queries() if n.endswith("_pixels")]
    assert len(leaves) == 17
    for name in leaves:
        nodes = [ln.lstrip(" :|+-").split(" ")[0]
                 for ln in _query_plan(spark, name).splitlines()]
        assert nodes.count("MapInPandas") == 1, name
        assert "BroadcastExchange" not in nodes, name
        assert not set(_JOINS) & set(nodes), name
