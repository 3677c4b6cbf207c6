"""Extraction through the Python workers of a ``get_spark`` session,
started from whatever working directory this process has.

test_worker_daemon.py::test_workers_run_patch_from_any_cwd runs this from
a temporary directory: the workers' daemon, ``docext_spark.worker_daemon``,
must then be importable through the session's executor PYTHONPATH alone.

    python tests/worker_daemon_check.py

prints one JSON line: the UDF's markdown and the kernel's per turn, and
the module that defines ``zipimporter.invalidate_caches`` in a worker.
"""
from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    from pyspark.sql import functions as F

    from docext_spark.core.convert import turn_to_markdown
    from docext_spark.operators.extract import extract_turns
    from docext_spark.session import get_spark
    from docext_spark.synth import transcripts_df
    spark = get_spark(app_name="worker_daemon_check", master="local[2]")
    spark.sparkContext.setLogLevel("ERROR")
    df = transcripts_df(spark, n_convs=3, median_turns=3, hot_factor=1,
                        partitions=2)
    texts = {f"{r.conv_id}/{r.turn_idx}": r.text for r in df.collect()}
    spark_md = {f"{r.conv_id}/{r.turn_idx}": r.md
                for r in extract_turns(df).collect()}

    @F.udf("string")
    def patch_module(_):
        import zipimport
        return zipimport.zipimporter.invalidate_caches.__module__

    modules = sorted({r[0] for r in spark.range(2).repartition(2)
                      .select(patch_module("id")).collect()})
    print(json.dumps({
        "spark_md": spark_md,
        "kernel_md": {k: turn_to_markdown(t)["md"] for k, t in texts.items()},
        "patch_modules": modules}), flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
