"""Repository benchmark for the docext_spark extraction engine.

    python3 perfbench/run.py --workload backfill|curate \
        --seed N --seconds S --trace 0|1

Builds the workload's input from ``--seed``, sets Spark up at
``local[nproc]`` (JVM launch, session start, input write, untimed ops
that warm the Python workers and the JIT), then runs ops back to back
for ``--seconds`` and checks every op's output against a reference
outside the timed window.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` instead times
each layer from outside (see ``perfbench/layers.py``) and writes a spans
file. A JSON report with every metric, the run environment and the
per-op detail is printed first; the last stdout line is the result:
``{"correct", "attempted", "failed", "metrics"}``.

Everything the run writes (inputs, outputs, Spark scratch, JVM temp
files, spans) stays under ``perfbench/_runs/``.
"""
from __future__ import annotations

import argparse
import importlib
import json
import os
import platform
import shutil
import statistics
import sys
import tempfile
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
RUNS = os.path.join(HERE, "_runs")
DRIVER_MEM = "3g"  # fits a 15 GB box next to other tenants


def benchmark_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def metric_units() -> dict[str, str]:
    spec = benchmark_spec()
    return {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def environment(seed: int) -> dict:
    """Load and versions at start, recorded with every result."""
    import pyarrow
    import pyspark

    def psi(resource):
        try:
            with open(f"/proc/pressure/{resource}") as f:
                return float(f.readline().split()[2].split("=")[1])
        except OSError:
            return None

    return {"seed": seed, "nproc": nproc(), "load5": os.getloadavg()[1],
            "psi_cpu_some_avg60": psi("cpu"),
            "psi_memory_some_avg60": psi("memory"),
            "spark": pyspark.__version__, "pyarrow": pyarrow.__version__,
            "python": platform.python_version(),
            "driver_memory": os.environ["SPARK_DRIVER_MEM"]}


def tree_rss_bytes(root_pid: int) -> int:
    """Resident set of ``root_pid`` and all its descendants: the driver,
    the JVM it launched and the JVM's Python workers."""
    parent, rss = {}, {}
    page = os.sysconf("SC_PAGE_SIZE")
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
            with open(f"/proc/{name}/statm") as f:
                rss[int(name)] = int(f.read().split()[1]) * page
        except OSError:  # exited between listing and reading
            continue
        parent[int(name)] = int(stat[stat.rindex(")") + 2:].split()[1])
    total, stack = 0, [root_pid]
    while stack:
        pid = stack.pop()
        total += rss.get(pid, 0)
        stack.extend(c for c, p in parent.items() if p == pid)
    return total


class PeakRss:
    """Samples the process tree's RSS every ``interval`` seconds while
    running and keeps the peak."""

    def __init__(self, interval: float = 0.25):
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self):
        while True:
            self.peak = max(self.peak, tree_rss_bytes(os.getpid()))
            if self._stop.wait(self.interval):
                return

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=10)


class Session:
    """The Spark session as ``docext_spark.session.get_spark`` configures
    it, with JVM temp files kept inside the run directory."""

    def __init__(self):
        self.spark = None
        self.started = False

    def start(self, master: str):
        from docext_spark.session import get_spark
        if self.spark is not None:
            self.spark.stop()
        if self.started:
            # a pandas UDF object keeps the JVM handle (and accumulator) of
            # the first SparkContext that ran it; re-importing the operator
            # module builds fresh UDF objects for the new context
            importlib.reload(importlib.import_module(
                "docext_spark.operators.extract"))
        self.started = True
        self.spark = get_spark(app_name="perfbench", master=master, extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={tempfile.gettempdir()} -XX:-UsePerfData",
        })
        return self.spark

    def jvm_pid(self) -> int:
        from pyspark import SparkContext
        return SparkContext._gateway.proc.pid

    def close(self):
        """Stop Spark, then end the JVM and wait for it to exit."""
        from pyspark import SparkContext
        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        gateway = SparkContext._gateway
        if gateway is not None:
            gateway.shutdown()
            gateway.proc.stdin.close()  # the JVM exits on stdin EOF
            gateway.proc.wait(timeout=60)
            SparkContext._gateway = SparkContext._jvm = None


def prepare(name: str) -> str:
    """Create the run directory and point every temp and scratch location
    of this process, the JVM and its workers into it."""
    work = os.path.join(RUNS, name)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEM
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    return work


def set_up(session: Session, wl, master: str) -> float:
    """Time one cold set-up: JVM launch and session start, the generated
    input written, and the workload's untimed warm ops, which spawn the
    Python workers and warm the JIT and code-generation caches."""
    t0 = time.perf_counter()
    spark = session.start(master)
    wl.write_input(spark)
    for k in range(wl.WARM_OPS):
        wl.op(spark, os.path.join(wl.work, f"op-warm-{k}"))
    return time.perf_counter() - t0


def run_ops(spark, wl, seconds: float, tag: str, tracer=None,
            min_ops: int = 1) -> list[dict]:
    """Closed loop, one client: ops back to back until ``seconds`` have
    passed (at least ``min_ops``). Each op writes to a fresh directory."""
    ops = []
    start = time.perf_counter()
    while (len(ops) < min_ops
           or time.perf_counter() - start < seconds):
        out = os.path.join(wl.work, f"op-{tag}-{len(ops)}")
        rec = {"out": out, "items": 0, "error": None}
        t0 = time.perf_counter()
        try:
            if tracer is None:
                rec["items"] = wl.op(spark, out)
            else:
                rec["items"] = tracer.op(spark, wl, out, len(ops))
        except Exception as e:  # a failed op is counted, the loop goes on
            rec["error"] = f"{type(e).__name__}: {e}"[:500]
        rec["s"] = time.perf_counter() - t0
        ops.append(rec)
    return ops


def check_ops(spark, wl, ops: list[dict], ref) -> None:
    """Compare every op's output with the reference (outside any timed
    window); sets ``mismatches`` on each op and deletes its output."""
    for rec in ops:
        if rec["error"] is None:
            try:
                rec["mismatches"] = wl.count_mismatches(
                    ref, wl.read_output(spark, rec["out"]))
            except Exception as e:
                rec["error"] = f"check: {type(e).__name__}: {e}"[:500]
        shutil.rmtree(rec["out"], ignore_errors=True)


def scaling_leg(session: Session, wl, seconds: float) -> dict:
    """``turns_per_s`` at ``local[1]`` with the driver, the JVM and every
    Python worker pinned to one CPU. Pinning every thread of the JVM
    before the context restarts makes the new worker daemon and its
    workers inherit the mask."""
    cpu = min(os.sched_getaffinity(0))
    for pid in (os.getpid(), session.jvm_pid()):
        for tid in os.listdir(f"/proc/{pid}/task"):
            os.sched_setaffinity(int(tid), {cpu})
    spark = session.start("local[1]")
    wl.warm_up(spark)  # the new context's Python workers
    ops = run_ops(spark, wl, seconds, "local1", min_ops=1)
    wall = sum(r["s"] for r in ops)
    for rec in ops:
        shutil.rmtree(rec["out"], ignore_errors=True)
    return {"turns_per_s": sum(r["items"] for r in ops) / wall,
            "failed": sum(map(op_failed, ops))}


def op_failed(rec: dict) -> bool:
    """An op fails when it raises or its output check finds a mismatch."""
    return rec["error"] is not None or rec.get("mismatches", 0) > 0


def summarize(wl, setup_s: float, ops: list[dict], peak_rss: int) -> dict:
    """Every end-to-end metric of the workload. ``items_per_s_p50`` (the
    result's ``items_per_s``) is the median of the per-op rates, which a
    single slow op moves less than the total-over-wall rate beside it."""
    wall = sum(r["s"] for r in ops)
    done = sum(r["items"] for r in ops if r["error"] is None)
    rates = [r["items"] / r["s"] for r in ops if r["error"] is None]
    return {
        "setup_s": setup_s,
        "job_s_p50": statistics.median(r["s"] for r in ops),
        "job_s_samples": len(ops),
        f"{wl.item}_per_s": done / wall,
        "items_per_s_p50": statistics.median(rates) if rates else 0.0,
        "peak_rss_mb": peak_rss / 2**20,
        "error_rate": sum(map(op_failed, ops)) / len(ops),
        "output_mismatches": sum(r.get("mismatches", 0) for r in ops),
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["backfill", "curate"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--scale", type=float, default=1.0,
                    help="input size factor (the smoke test uses a small one)")
    args = ap.parse_args(argv)

    work = prepare(f"{args.workload}-{args.seed}-{os.getpid()}")
    from perfbench.workloads import WORKLOADS

    env = environment(args.seed)
    master = f"local[{env['nproc']}]"
    wl = WORKLOADS[args.workload](args.seed, work, args.scale)
    session = Session()
    try:
        setup_s = set_up(session, wl, master)
        spark = session.spark
        if args.trace:
            from perfbench.layers import per_layer_metrics, traced_run
            measured, ops, detail = traced_run(spark, wl, args.seconds, RUNS,
                                               args.seed, run_ops, check_ops)
            if wl.name == "backfill":
                # the paper's N -> 4N criterion at the only honest leg on
                # one box: local[nproc] against local[1] pinned to one CPU
                one = scaling_leg(session, wl, args.seconds / 2)
                measured["session.turns_per_s_local1"] = one["turns_per_s"]
                measured["session.scaling_efficiency"] = (
                    detail["turns_per_s"] / (env["nproc"] * one["turns_per_s"]))
                detail["local1_failed"] = one["failed"]
            metrics = per_layer_metrics(
                wl.name, measured,
                [m["name"] for m in benchmark_spec()["per_layer"]])
            report = {"setup_s": setup_s, **detail}
        else:
            with PeakRss() as rss:
                ops = run_ops(spark, wl, args.seconds, "t",
                              min_ops=wl.MIN_OPS)
            check_ops(spark, wl, ops, wl.reference(spark))
            report = summarize(wl, setup_s, ops, rss.peak)
            metrics = {
                "setup_s": report["setup_s"], "job_s_p50": report["job_s_p50"],
                "items_per_s": report["items_per_s_p50"]}
    finally:
        session.close()
        shutil.rmtree(work, ignore_errors=True)

    failed = (sum(map(op_failed, ops)) + report.get("local1_failed", 0)
              + report.get("stream_failed", 0))
    units = metric_units()
    print(json.dumps({"report": {
        "workload": args.workload, "master": master, "env": env, **report,
        "ops": [{k: v for k, v in r.items() if k != "out"} for r in ops]}}))
    print(json.dumps({"correct": failed == 0, "attempted": len(ops),
                      "failed": failed,
                      "metrics": {k: {"value": v, "unit": units[k]}
                                  for k, v in metrics.items()}}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
