"""Partition-order digest stability — the structural gate for the round-5
driver flake class (`round(sum(double))` whose last digit depends on the
scheduling-dependent partial-aggregation order).

Every oracle-paired queries() entry is executed under two deliberately
different parallelism configs — few shuffle partitions + big scan splits
vs many shuffle partitions + tiny scan splits — and the driver's own
order-insensitive value digest must be identical. With exact decimal sums
(operators/metrics.det_mean/det_sum, entry _dsum/_dmean) this holds by
construction; any future `F.sum(double)`-under-rounding regression trips
it immediately instead of flaking once a round in CORRECTNESS_r{N}.json.

The config-A digest is also pinned to tests/oracle_digests.json, so the
Spark side of every pair keeps the exact result recorded there; the
DuckDB side is pinned to the same file by test_entry_contract.
"""
from __future__ import annotations

import json
from pathlib import Path

import pytest

SF_DIR = "/root/testdata/sf0.001"

# (shuffle partitions, scan split bytes): config B forces many tiny input
# splits and a wide shuffle so partial sums accumulate in a genuinely
# different order than config A's near-serial plan
CONFIGS = [("2", str(128 * 1024 * 1024)), ("64", str(64 * 1024))]

MANIFEST = Path(__file__).with_name("oracle_digests.json")

_RUNTIME_KEYS = ("spark.sql.shuffle.partitions",
                 "spark.sql.files.maxPartitionBytes")


def _digest_under(spark, fn, cfg):
    old = [spark.conf.get(k) for k in _RUNTIME_KEYS]
    for k, v in zip(_RUNTIME_KEYS, cfg):
        spark.conf.set(k, v)
    try:
        df = fn(spark, SF_DIR)
        cols = df.columns
        rows = [tuple(r) for r in df.collect()]
    finally:
        for k, v in zip(_RUNTIME_KEYS, old):
            spark.conf.set(k, v)
    return cols, rows


def test_oracle_paired_digests_stable_across_parallelism(spark):
    import __spark_entry__ as entry
    from tools.check_oracle import table_digest
    qs = entry.queries()
    paired = sorted(entry.oracle_sql())
    pinned = json.loads(MANIFEST.read_text())["digests"]
    failures = []
    for name in paired:
        try:
            ca, ra = _digest_under(spark, qs[name], CONFIGS[0])
            cb, rb = _digest_under(spark, qs[name], CONFIGS[1])
        except Exception as exc:  # noqa: BLE001 — collect, report all
            failures.append(f"{name}: ERROR {exc}")
            continue
        da = table_digest(ca, ra)
        db = table_digest(cb, rb)
        if ca != cb or da != db:
            failures.append(
                f"{name}: digest {da[:12]} (cfg A, {len(ra)} rows) != "
                f"{db[:12]} (cfg B, {len(rb)} rows)")
        elif da != pinned.get(name):
            failures.append(
                f"{name}: digest {da} != manifest {pinned.get(name)}")
    assert not failures, (
        f"{len(failures)}/{len(paired)} oracle-paired queries are "
        "partition-order-unstable or differ from the manifest:\n"
        + "\n".join(failures))
