"""S6/J4 — checkpoint/resume: interrupted run resumes without duplicate
work and converges to the identical final table (SURVEY.md §5.2 item 5)."""
from __future__ import annotations

from pyspark.sql import functions as F

from docext_spark.plans.pipeline import run_pipeline
from docext_spark.sources.checkpoint import CheckpointedResults
from docext_spark.synth import transcripts_df


def test_resume_no_duplicates(spark, tmp_path):
    root = str(tmp_path / "results")
    df = transcripts_df(spark, n_convs=8, median_turns=5, hot_factor=3,
                        partitions=4)
    total = df.count()

    # simulate a partial run that dies after committing half the convs
    first_half = df.filter(F.col("conv_id") < "conv_000004")
    ckpt = CheckpointedResults(root)
    run_pipeline(spark, first_half, output_root=root)
    n_committed = ckpt.committed(spark).count()
    assert 0 < n_committed < total

    # resume over the FULL input: only remaining keys are processed
    todo = ckpt.remaining(spark, df)
    assert todo.count() == total - n_committed

    res = run_pipeline(spark, df, output_root=root)
    assert res["written"] == total - n_committed  # no duplicate work
    final = ckpt.committed(spark)
    assert final.count() == total
    assert final.select("conv_id", "turn_idx").distinct().count() == total

    # idempotent: a third run writes nothing
    res3 = run_pipeline(spark, df, output_root=root)
    assert res3["written"] == 0


def test_resume_key_is_content_addressed(spark):
    from docext_spark.sources.checkpoint import resume_key
    df = spark.createDataFrame(
        [("c1", 0, "hello"), ("c1", 0, "hello"), ("c1", 0, "changed")],
        "conv_id string, turn_idx int, text string")
    keys = [r[0] for r in df.select(resume_key()).collect()]
    assert keys[0] == keys[1] != keys[2]


def test_uncommitted_batch_is_invisible(spark, tmp_path):
    """Snapshot atomicity: a batch directory whose manifest entry was never
    appended (crash between write and commit) must be invisible —
    committed() skips it and remaining() still returns its rows."""
    import os
    from docext_spark.sources.checkpoint import CheckpointedResults
    root = str(tmp_path / "results")
    ckpt = CheckpointedResults(root)
    src = spark.createDataFrame(
        [("c1", 0, "a"), ("c1", 1, "b")], "conv_id string, turn_idx int, md string")
    # simulate the crash: files written, manifest NOT updated
    os.makedirs(root, exist_ok=True)
    src.write.parquet(os.path.join(root, "batch-orphaned"))
    assert ckpt.committed(spark) is None          # no manifest → nothing committed
    assert ckpt.remaining(spark, src).count() == 2  # all rows still to do
    # a real commit then excludes exactly the committed keys
    ckpt.commit(src.limit(1))
    assert ckpt.remaining(spark, src).count() == 1


def test_concurrent_commits_lose_nothing(spark, tmp_path):
    """VERDICT r2 #4: two drivers committing at once must both land — the
    per-batch marker-file log cannot lose a commit the way a read-modify-
    write of one shared manifest can. 8 threads × 1 batch each, barrier-
    released so the commits genuinely overlap."""
    import threading

    root = str(tmp_path / "results")
    ckpt = CheckpointedResults(root)
    n_writers = 8
    barrier = threading.Barrier(n_writers)
    errors = []

    def writer(i):
        df = spark.createDataFrame(
            [(f"c{i}", t, f"text {i}/{t}") for t in range(3)],
            "conv_id string, turn_idx int, md string")
        barrier.wait()
        try:
            ckpt.commit(df)
        except Exception as e:  # pragma: no cover - failure detail
            errors.append(e)

    threads = [threading.Thread(target=writer, args=(i,))
               for i in range(n_writers)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errors
    final = ckpt.committed(spark)
    assert final.count() == n_writers * 3
    assert final.select("conv_id").distinct().count() == n_writers
    # every marker describes its own batch exactly
    assert len(ckpt._committed_batches()) == n_writers


def test_legacy_manifest_still_readable(spark, tmp_path):
    """Tables committed under the pre-marker single-manifest layout keep
    resuming: the reader unions legacy manifest entries with markers."""
    import json
    import os

    root = str(tmp_path / "results")
    ckpt = CheckpointedResults(root)
    src = spark.createDataFrame(
        [("c1", 0, "a"), ("c2", 0, "b")],
        "conv_id string, turn_idx int, md string")
    os.makedirs(root, exist_ok=True)
    src.limit(1).write.parquet(os.path.join(root, "batch-legacy"))
    with open(os.path.join(root, "_commits.json"), "w") as f:
        json.dump([{"batch": "batch-legacy", "rows": 1}], f)
    assert ckpt.committed(spark).count() == 1
    ckpt.commit(src.join(ckpt.committed(spark).select("conv_id"),
                         "conv_id", "left_anti"))
    assert ckpt.committed(spark).count() == 2


def test_commit_counts_rows_in_its_write(spark, tmp_path):
    """The marker's row count comes from the write itself: committing a
    projection of a persisted frame (what run_pipeline passes) runs one
    Spark job, with no read-back of the batch just written."""
    import json
    import os

    src = spark.createDataFrame(
        [(f"c{i}", i, f"text {i}") for i in range(6)],
        "conv_id string, turn_idx int, md string").persist()
    src.count()
    ckpt = CheckpointedResults(str(tmp_path / "results"))
    sc = spark.sparkContext
    group = "checkpoint-commit-one-job"
    sc.setJobGroup(group, "one commit")
    try:
        n = ckpt.commit(src.select("conv_id", "turn_idx", "md"))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    src.unpersist()
    assert n == 6
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == 1
    (batch,) = ckpt._committed_batches()
    with open(os.path.join(ckpt.root, f"_commit-{batch}.json")) as f:
        assert json.load(f)["rows"] == 6
    assert ckpt.committed(spark).count() == 6
