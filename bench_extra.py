"""Extra benchmarks (guide §1.4 noop-sink isolation) — NOT the driver
contract; bench.py stays the frozen measurement. Usage:
  python bench_extra.py <query>[,<query>...] [n_runs]
Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf1.0), SPARK_GRAFT_CPUS.
Prints per-query median/min over n_runs after one warmup run.
"""
from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def main():
    names = sys.argv[1].split(",")
    n_runs = int(sys.argv[2]) if len(sys.argv) > 2 else 3
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf1.0")
    import __spark_entry__ as entry
    from docext_spark.session import get_spark
    spark = get_spark(app_name="bench_extra")
    qs = entry.queries()
    # JVM + python-worker warmup (mirrors bench.py)
    qs["q1_pricing_summary"](spark, sf_dir).collect()
    qs["x1_turn_markdown"](spark, "/root/testdata/sf0.001") \
        .write.mode("overwrite").format("noop").save()
    for name in names:
        runs = []
        for _ in range(n_runs):
            spark.sparkContext.setJobDescription(f"bench_extra:{name}")
            t0 = time.time()
            qs[name](spark, sf_dir).write.mode("overwrite") \
                .format("noop").save()
            runs.append(time.time() - t0)
        runs_s = sorted(runs)
        print(f"{name}: median {runs_s[len(runs) // 2]:.3f}s "
              f"min {runs_s[0]:.3f}s of {[round(r, 3) for r in runs]}",
              flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
