"""The traced run: per-layer metrics, timed from outside each layer.

Two sources feed the per-layer metrics:

* spans around the calls each op makes into a layer's public functions
  (the benchmark swaps each function for a timing wrapper for the traced
  ops only); and
* isolated layer passes: each layer's public function called on
  materialised (cached) inputs and forced with the ``noop`` sink, so its
  time excludes the layers above and below it. The streaming layer's pass
  drains small files of the same generator and adds one span per trigger
  from the query's progress.

Spans are kept in memory and written to
``perfbench/_runs/spans-<workload>-<seed>.json`` when the run ends, with
each span's self time (its duration minus the part its children cover).
Metrics of a layer the workload does not exercise read 0.
"""
from __future__ import annotations

import contextlib
import datetime as dt
import functools
import inspect
import json
import os
import statistics
import time

# the layers each workload exercises; every other per-layer metric is 0
LAYERS = {
    "backfill": ("core.convert", "sources.transcripts", "operators.extract",
                 "sources.checkpoint", "plans.pipeline",
                 "operators.reassemble", "streaming.extract_stream",
                 "session", "trace"),
    "curate": ("plans.curate", "operators.dedup", "session.jobs",
               "session.tasks", "trace"),
}
TRIGGER_PHASES = ("latestOffset", "getBatch", "queryPlanning", "addBatch",
                  "walCommit", "commitOffsets", "triggerExecution")
KINDS = ("html", "pdf_text", "md_table", "json_payload", "plain")
CONVERT_SAMPLE = 3000  # turns in the single-threaded kernel pass
STREAM_DRAINS = 2  # the first drain of a process pays the stream's start-up


def tail_percentile(values: list[float]) -> tuple[int, float] | None:
    """The highest whole percentile with at least ten samples beyond it,
    as (percentile, value); None with ten samples or fewer."""
    n = len(values)
    p = 100 * (n - 10) // n if n > 10 else 0
    if p < 1:
        return None
    return p, statistics.quantiles(values, n=100, method="inclusive")[p - 1]


def self_times(spans: list[dict]) -> None:
    """Set ``self_s`` on every span: its duration minus the union of its
    children's intervals clipped to it."""
    children: dict[int, list] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append(s)
    for s in spans:
        covered, cur_start, cur_end = 0.0, None, None
        for c in sorted(children.get(s["id"], []), key=lambda c: c["start"]):
            a, b = max(c["start"], s["start"]), min(c["end"], s["end"])
            if b <= a:
                continue
            if cur_end is None or a > cur_end:
                if cur_end is not None:
                    covered += cur_end - cur_start
                cur_start, cur_end = a, b
            else:
                cur_end = max(cur_end, b)
        if cur_end is not None:
            covered += cur_end - cur_start
        s["self_s"] = s["end"] - s["start"] - covered


class Tracer:
    """In-memory span recorder. Times are seconds since the tracer was
    created; ``op`` is the id of the op a span belongs to (None outside
    ops)."""

    def __init__(self):
        self.t0 = time.perf_counter()
        self.wall0 = time.time()
        self.spans: list[dict] = []
        self.stack: list[int] = []
        self.op_id = None

    def now(self) -> float:
        return time.perf_counter() - self.t0

    def add(self, name: str, start: float, end: float, parent=None) -> dict:
        span = {"id": len(self.spans), "name": name, "start": start,
                "end": end, "parent": parent, "op": self.op_id}
        self.spans.append(span)
        return span

    @contextlib.contextmanager
    def span(self, name: str):
        span = self.add(name, self.now(), None,
                        self.stack[-1] if self.stack else None)
        self.stack.append(span["id"])
        try:
            yield span
        finally:
            self.stack.pop()
            span["end"] = self.now()

    @contextlib.contextmanager
    def wrapping(self, targets: list[tuple[object, str, str]]):
        """Replace each ``owner.attr`` with a wrapper that records a span
        named ``name`` around every call, and restore them on exit."""
        saved = [(owner, attr, getattr(owner, attr)) for owner, attr, _ in targets]

        def wrap(fn, name):
            @functools.wraps(fn)
            def traced(*args, **kwargs):
                with self.span(name):
                    return fn(*args, **kwargs)
            return traced

        try:
            for (owner, attr, fn), (_, _, name) in zip(saved, targets):
                setattr(owner, attr, wrap(fn, name))
            yield
        finally:
            for owner, attr, fn in saved:
                setattr(owner, attr, fn)

    def duration(self, name: str) -> float:
        """Total time of the spans called ``name`` outside ops."""
        return sum(s["end"] - s["start"] for s in self.spans
                   if s["name"] == name and s["op"] is None)


def _wrap_targets(workload: str) -> list[tuple[object, str, str]]:
    """The layer entry points an op of ``workload`` calls, as
    (owner, attribute, span name)."""
    if workload == "backfill":
        from docext_spark.plans import pipeline
        from docext_spark.sources.checkpoint import CheckpointedResults
        return [(pipeline, "run_pipeline", "plans.pipeline.run_pipeline"),
                (pipeline, "run_extraction", "operators.extract.extract_turns"),
                (pipeline, "lineage_metrics", "plans.pipeline.lineage_metrics"),
                (pipeline, "reassemble_conversations",
                 "operators.reassemble.reassemble_conversations"),
                (CheckpointedResults, "remaining", "sources.checkpoint.remaining"),
                (CheckpointedResults, "commit", "sources.checkpoint.commit"),
                (CheckpointedResults, "committed", "sources.checkpoint.committed")]
    from docext_spark.plans import curate
    return [(curate, "curate", "plans.curate.curate"),
            (curate, "quality_gate", "plans.curate.quality_gate"),
            (curate, "exact_dedup_keep_first", "plans.curate.exact_dedup"),
            (curate, "fuzzy_dedup_keep_first", "plans.curate.fuzzy_dedup"),
            (curate, "lsh_candidate_pairs", "operators.dedup.lsh_candidate_pairs"),
            (curate, "jaccard_for_pairs", "operators.dedup.jaccard_for_pairs"),
            (curate, "duplicate_clusters", "operators.dedup.duplicate_clusters")]


class TracedOps:
    """Runs ops with spans around each layer call and one Spark job group
    per op, counting the op's jobs and tasks from the status tracker."""

    def __init__(self, tracer: Tracer):
        self.tracer = tracer
        self.jobs: list[int] = []
        self.tasks: list[int] = []

    def op(self, spark, wl, out: str, k: int) -> int:
        sc = spark.sparkContext
        group = f"perfbench-op-{k}"
        sc.setJobGroup(group, f"{wl.name} op {k}")
        self.tracer.op_id = k
        try:
            with self.tracer.wrapping(_wrap_targets(wl.name)):
                with self.tracer.span("op"):
                    items = wl.op(spark, out)
        finally:
            self.tracer.op_id = None
            sc.setLocalProperty("spark.jobGroup.id", None)
        tracker = sc.statusTracker()
        job_ids = list(tracker.getJobIdsForGroup(group))
        tasks = 0
        for j in job_ids:
            info = tracker.getJobInfo(j)
            for sid in (list(info.stageIds) if info else []):
                stage = tracker.getStageInfo(sid)
                tasks += stage.numTasks if stage else 0
        self.jobs.append(len(job_ids))
        self.tasks.append(tasks)
        return items


def convert_metrics(rows: list[dict]) -> dict:
    """Single-threaded in-driver ``turn_to_markdown`` over the first
    ``CONVERT_SAMPLE`` turns in key order: thread CPU per turn, per kind."""
    from docext_spark.core.convert import turn_to_markdown
    sample = sorted(rows, key=lambda r: (r["conv_id"], r["turn_idx"]))[:CONVERT_SAMPLE]
    cpu = {k: 0.0 for k in KINDS}
    n = {k: 0 for k in KINDS}
    for r in sample:
        t0 = time.thread_time()
        kind = turn_to_markdown(r["text"])["kind"]
        cpu[kind] += time.thread_time() - t0
        n[kind] += 1
    m = {"core.convert.cpu_us_per_turn": 1e6 * sum(cpu.values()) / len(sample)}
    for k in KINDS:
        m[f"core.convert.cpu_us_per_turn.{k}"] = 1e6 * cpu[k] / n[k] if n[k] else 0.0
        m[f"core.convert.turns.{k}"] = n[k]
    return m


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def extract_metrics(spark, tracer: Tracer, source, cpu_us_per_turn: float):
    """``extract_turns`` over a cached input into the noop sink. Returns
    the metrics, the cached input and the cached extraction."""
    from pyspark.sql import functions as F

    from docext_spark.operators.extract import extract_turns
    cached = source.persist()
    rows = cached.count()
    with tracer.span("operators.extract.extract_turns"):
        _noop(extract_turns(cached))
    s = tracer.duration("operators.extract.extract_turns")
    extracted = extract_turns(cached).persist()
    agg = extracted.agg(F.sum(F.length("md")), F.sum(F.size("spans")),
                        F.sum((~F.col("parse_ok")).cast("int"))).first()
    cores = spark.sparkContext.defaultParallelism
    return {"operators.extract.s": s,
            "operators.extract.non_kernel_share":
                1 - cpu_us_per_turn * 1e-6 * rows / (s * cores),
            "operators.extract.md_bytes": agg[0] or 0,
            "operators.extract.spans": agg[1] or 0,
            "operators.extract.parse_failures": agg[2] or 0}, cached, extracted


def backfill_layers(spark, wl, tracer: Tracer, m: dict) -> dict:
    from pyspark.sql import functions as F

    from docext_spark.operators.reassemble import reassemble_conversations
    from docext_spark.plans.pipeline import lineage_metrics
    from docext_spark.sources.checkpoint import CheckpointedResults
    from docext_spark.sources.transcripts import RESULT_SCHEMA
    src = wl.scan(spark)
    with tracer.span("sources.transcripts.scan"):
        _noop(src)
    scan = src.agg(F.count(F.lit(1)), F.sum(F.length("text"))).first()
    ext, cached, extracted = extract_metrics(
        spark, tracer, src, m["core.convert.cpu_us_per_turn"])
    ckpt = CheckpointedResults(os.path.join(wl.work, "layers", "results"))
    with tracer.span("sources.checkpoint.commit"):
        ckpt.commit(extracted.select(*[f.name for f in RESULT_SCHEMA.fields]))
    files = sum(name.endswith(".parquet")
                for _, _, names in os.walk(ckpt.root) for name in names)
    with tracer.span("sources.checkpoint.committed_read"):
        _noop(ckpt.committed(spark))
    with tracer.span("sources.checkpoint.remaining"):
        left = ckpt.remaining(spark, cached).count()
    if left:
        raise RuntimeError(f"resume anti-join left {left} finished turns")
    with tracer.span("plans.pipeline.lineage_metrics"):
        lineage = lineage_metrics(extracted).collect()
    turns = ckpt.committed(spark).persist()
    turns.count()
    with tracer.span("operators.reassemble.reassemble_conversations"):
        _noop(reassemble_conversations(turns))
    convs = reassemble_conversations(turns).agg(
        F.count(F.lit(1)), F.max("n_turns"), F.sum(F.length("conv_md"))).first()
    for frame in (turns, extracted, cached):
        frame.unpersist()
    return {"sources.transcripts.scan_s": tracer.duration("sources.transcripts.scan"),
            "sources.transcripts.rows": scan[0],
            "sources.transcripts.text_bytes": scan[1],
            **ext,
            "sources.checkpoint.commit_s": tracer.duration("sources.checkpoint.commit"),
            "sources.checkpoint.committed_read_s":
                tracer.duration("sources.checkpoint.committed_read"),
            "sources.checkpoint.files": files,
            "sources.checkpoint.remaining_s":
                tracer.duration("sources.checkpoint.remaining"),
            "plans.pipeline.lineage_s": tracer.duration("plans.pipeline.lineage_metrics"),
            "plans.pipeline.lineage_rows": len(lineage),
            "operators.reassemble.s":
                tracer.duration("operators.reassemble.reassemble_conversations"),
            "operators.reassemble.convs": convs[0],
            "operators.reassemble.max_turns_per_conv": convs[1],
            "operators.reassemble.conv_md_bytes": convs[2]}


def stream_layers(spark, wl, tracer: Tracer) -> tuple[dict, dict]:
    """``STREAM_DRAINS`` drains of ``start_extraction_stream`` over the
    workload's generator written as small files, one file per trigger,
    each into a fresh checkpoint; the metrics come from the last drain.
    Every drain's rows are checked against the batch result. Returns
    (metrics, report detail)."""
    from perfbench.workloads import Feed
    feed = Feed(wl.seed, os.path.join(wl.work, "stream"), wl.scale)
    feed.write_input(spark)
    ref = feed.reference(spark)
    mismatches = 0
    for k in range(STREAM_DRAINS):
        out = os.path.join(feed.work, f"drain-{k}")
        with tracer.span("streaming.extract_stream.drain") as drain:
            feed.op(spark, out)
        batches = feed.progress[out]
        for p in batches:
            start = (dt.datetime.fromisoformat(p["timestamp"].replace("Z", "+00:00"))
                     .timestamp() - tracer.wall0)
            tracer.add("streaming.extract_stream.trigger", start,
                       start + p["durationMs"]["triggerExecution"] / 1000,
                       drain["id"])
        mismatches += feed.count_mismatches(ref, feed.read_output(spark, out))
    phase = {ph: statistics.median(p["durationMs"].get(ph, 0) for p in batches)
             for ph in TRIGGER_PHASES}
    trig = sum(p["durationMs"]["triggerExecution"] for p in batches) / 1000
    add = sum(p["durationMs"].get("addBatch", 0) for p in batches) / 1000
    trig_s = [p["durationMs"]["triggerExecution"] / 1000
              for out in feed.progress for p in feed.progress[out]]
    tail = tail_percentile(trig_s) or (None, None)
    return {"streaming.extract_stream.batches": len(batches),
            "streaming.extract_stream.rows_per_batch_p50":
                statistics.median(p["numInputRows"] for p in batches),
            **{f"streaming.extract_stream.{ph}_ms_p50": v for ph, v in phase.items()},
            "streaming.extract_stream.non_addbatch_share": 1 - add / trig,
            "streaming.extract_stream.start_stop_s":
                drain["end"] - drain["start"] - trig}, {
        "stream_turns": feed.n_items,
        "stream_mismatches": mismatches, "stream_failed": int(mismatches > 0),
        # null when no percentile has ten samples beyond it
        "microbatch_s_p50": statistics.median(trig_s),
        "microbatch_samples": len(trig_s),
        "microbatch_s_tail_percentile": tail[0], "microbatch_s_tail": tail[1]}


def curate_layers(spark, wl, tracer: Tracer) -> dict:
    from docext_spark.operators.dedup import (duplicate_clusters,
                                              jaccard_for_pairs,
                                              lsh_candidate_pairs, lsh_plan)
    from docext_spark.plans.curate import (exact_dedup_keep_first,
                                           fuzzy_dedup_keep_first,
                                           quality_gate)
    docs = wl.scan(spark).persist()
    n_input = docs.count()
    frames = [docs]

    def stage(name, build):
        with tracer.span(name):
            frame = build().persist()
            n = frame.count()
        frames.append(frame)
        return frame, n

    gated, n_gate = stage("plans.curate.quality_gate", lambda: quality_gate(docs))
    exact, n_exact = stage("plans.curate.exact_dedup",
                           lambda: exact_dedup_keep_first(gated))
    _, n_fuzzy = stage("plans.curate.fuzzy_dedup",
                       lambda: fuzzy_dedup_keep_first(exact))
    # the fuzzy stage's own defaults, so the isolated passes cannot drift
    d = {k: p.default for k, p in
         inspect.signature(fuzzy_dedup_keep_first).parameters.items()}
    bands = lsh_plan(d["jaccard_threshold"], d["num_hashes"])["bands"]
    cands, n_cands = stage("operators.dedup.lsh_candidate_pairs",
                           lambda: lsh_candidate_pairs(
                               exact, num_hashes=d["num_hashes"], bands=bands,
                               n=d["n"], engine=d["engine"],
                               max_bucket_size=d["max_bucket_size"]))
    verified, n_verified = stage("operators.dedup.jaccard_for_pairs",
                                 lambda: jaccard_for_pairs(
                                     exact, cands, n=d["n"],
                                     threshold=d["jaccard_threshold"]))
    stage("operators.dedup.duplicate_clusters",
          lambda: duplicate_clusters(verified, max_iter=d["cluster_max_iter"]))
    for frame in frames:
        frame.unpersist()
    return {
        **{f"plans.curate.{s}_s": tracer.duration(f"plans.curate.{s}")
           for s in ("quality_gate", "exact_dedup", "fuzzy_dedup")},
        "plans.curate.funnel.input": n_input,
        "plans.curate.funnel.quality_gate": n_gate,
        "plans.curate.funnel.exact_dedup": n_exact,
        "plans.curate.funnel.fuzzy_dedup": n_fuzzy,
        **{f"operators.dedup.{s}_s": tracer.duration(f"operators.dedup.{s}")
           for s in ("lsh_candidate_pairs", "jaccard_for_pairs",
                     "duplicate_clusters")},
        "operators.dedup.candidate_pairs": n_cands,
        "operators.dedup.verified_pairs": n_verified,
        "operators.dedup.verify_yield": n_verified / n_cands if n_cands else 0.0,
    }


def traced_run(spark, wl, seconds: float, runs_dir: str, seed: int,
               run_ops, check_ops) -> tuple[dict, list[dict], dict]:
    """Untraced ops, then traced ops, for ``seconds / 2`` each; the output
    checks; then the isolated layer passes. Returns (per-layer metrics
    keyed by name, all ops, report detail) and writes the spans file."""
    tracer = Tracer()
    plain = run_ops(spark, wl, seconds / 2, "plain", min_ops=2)
    traced = TracedOps(tracer)
    ops = run_ops(spark, wl, seconds / 2, "traced", tracer=traced, min_ops=2)
    m = {"trace.overhead_s": statistics.median(r["s"] for r in ops)
         - statistics.median(r["s"] for r in plain),
         "session.jobs": statistics.median(traced.jobs),
         "session.tasks": statistics.median(traced.tasks)}
    detail = {}
    if wl.name == "backfill":
        m.update(convert_metrics(wl.rows))
        m.update(backfill_layers(spark, wl, tracer, m))
        stream, detail = stream_layers(spark, wl, tracer)
        m.update(stream)
    else:
        m.update(curate_layers(spark, wl, tracer))
    check_ops(spark, wl, plain + ops, wl.reference(spark))

    self_times(tracer.spans)
    path = os.path.join(runs_dir, f"spans-{wl.name}-{seed}.json")
    with open(path, "w") as f:
        json.dump({"workload": wl.name, "seed": seed, "spans": tracer.spans}, f)
    self_by_name: dict[str, float] = {}
    for s in tracer.spans:
        self_by_name[s["name"]] = self_by_name.get(s["name"], 0.0) + s["self_s"]
    return m, plain + ops, {
        **detail,
        "spans_file": os.path.relpath(path), "self_s_by_span": self_by_name,
        f"{wl.item}_per_s": sum(r["items"] for r in plain)
        / sum(r["s"] for r in plain)}


def per_layer_metrics(workload: str, measured: dict, names: list[str]) -> dict:
    """Every per-layer metric in ``names``: measured for the layers the
    workload exercises (a missing one is an error), 0 for the rest."""
    return {name: measured[name] if name.startswith(LAYERS[workload]) else 0
            for name in names}
