"""Physical-plan gates: the scale-posture claims in BENCH/PLANS.md as
enforced assertions, so a regression (a sneaky total sort, a cartesian, a
shuffled hot-set filter) fails CI instead of only dating the doc."""
from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"
pytestmark = pytest.mark.skipif(not os.path.isdir(SF),
                                reason="driver testdata not present")


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet")


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
