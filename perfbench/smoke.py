"""Smoke test of the benchmark itself, at a tiny input size.

    python3 perfbench/smoke.py

Checks, for every workload:

* ``run.py --trace 0`` and ``--trace 1`` exit 0 and end with the result
  line, whose metrics are exactly BENCHMARK.json's end-to-end (or
  per-layer) names, each with its unit, on a correct run;
* the report line names every end-to-end metric of the workload, and the
  traced backfill report the streaming pass's microbatch figures;
* the output check of each workload and of the streaming pass counts 0
  on a real op's output and exactly 1 after a single output row is
  corrupted;

and that ``run.py`` fails without printing a result in a directory that
holds only BENCHMARK.json and the benchmark's files.
"""
from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from perfbench import run  # noqa: E402

SCALE = "0.04"
REPORTED = {"backfill": ("turns_per_s",), "curate": ("docs_per_s",)}
COMMON = ("setup_s", "job_s_p50", "job_s_samples", "items_per_s_p50",
          "peak_rss_mb", "error_rate", "output_mismatches")
TRACED = {"backfill": ("microbatch_s_p50", "microbatch_s_tail",
                       "microbatch_s_tail_percentile", "stream_mismatches"),
          "curate": ()}


def run_cli(workload: str, trace: int, cwd: str = ROOT):
    return subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", "1", "--seconds", "1", "--trace", str(trace),
         "--scale", SCALE],
        cwd=cwd, capture_output=True, text=True, timeout=600)


def check_cli(workload: str, spec: dict) -> None:
    for trace, section in ((0, "end_to_end"), (1, "per_layer")):
        proc = run_cli(workload, trace)
        assert proc.returncode == 0, proc.stderr[-3000:]
        lines = proc.stdout.strip().splitlines()
        result = json.loads(lines[-1])
        assert set(result) == {"correct", "attempted", "failed", "metrics"}
        assert result["correct"] and result["failed"] == 0, lines[-2][:3000]
        assert result["attempted"] >= 1
        want = {m["name"]: m["unit"] for m in spec[section]}
        got = {k: v["unit"] for k, v in result["metrics"].items()}
        assert got == want, (workload, trace, set(got) ^ set(want))
        assert all(isinstance(v["value"], (int, float))
                   for v in result["metrics"].values())
        report = json.loads(lines[-2])["report"]
        if trace == 0:
            missing = [k for k in COMMON + REPORTED[workload] if k not in report]
            assert not missing, (workload, missing)
            assert report["output_mismatches"] == 0
        else:
            assert os.path.exists(os.path.join(ROOT, report["spans_file"]))
            missing = [k for k in TRACED[workload] if k not in report]
            assert not missing, (workload, missing)
        print(f"ok  {workload} --trace {trace}", flush=True)


def corrupt(workload: str, output: dict) -> dict:
    """One output row changed: a turn's markdown, or one funnel count."""
    if workload == "curate":
        funnel = dict(output["funnel"])
        funnel["2_exact_dedup"] += 1
        return {**output, "funnel": funnel}
    turns = output["turns"].copy()
    turns.loc[turns.index[0], "md"] = (turns.loc[turns.index[0], "md"] or "") + "x"
    return {**output, "turns": turns}


def check_corruption_counted() -> None:
    from perfbench.workloads import WORKLOADS, Feed
    work = run.prepare(f"smoke-{os.getpid()}")
    session = run.Session()
    try:
        spark = session.start("local[2]")
        for name, cls in [*WORKLOADS.items(), ("feed", Feed)]:
            wl = cls(1, os.path.join(work, name), float(SCALE))
            wl.write_input(spark)
            out = os.path.join(wl.work, "op")
            wl.op(spark, out)
            ref = wl.reference(spark)
            output = wl.read_output(spark, out)
            assert wl.count_mismatches(ref, output) == 0, name
            assert wl.count_mismatches(ref, corrupt(name, output)) == 1, name
            print(f"ok  {name} corrupted row counted", flush=True)
    finally:
        session.close()
        shutil.rmtree(work, ignore_errors=True)


def check_fails_without_program() -> None:
    bare = os.path.join(run.RUNS, f"bare-{os.getpid()}")
    os.makedirs(bare)
    try:
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                        ignore=shutil.ignore_patterns("_runs", "__pycache__"))
        proc = run_cli("backfill", 0, cwd=bare)
        assert proc.returncode != 0 and not proc.stdout.strip(), proc.stdout
        print("ok  fails without the program", flush=True)
    finally:
        shutil.rmtree(bare, ignore_errors=True)


def main() -> int:
    spec = run.benchmark_spec()
    check_fails_without_program()
    for workload in REPORTED:
        check_cli(workload, spec)
    check_corruption_counted()
    return 0


if __name__ == "__main__":
    sys.exit(main())
