"""Driver-contract surface: entry() smoke, queries()/oracle_sql() shape, and
a fast spot-check of two oracle pairs at sf0.001 (the full sweep runs via
tools/check_oracle.py), plus every DuckDB twin pinned to the digest
manifest tests/oracle_digests.json."""
from __future__ import annotations

import json
import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))
import __spark_entry__ as entry  # noqa: E402
from tools.check_oracle import duckdb_views  # noqa: E402

SF = "/root/testdata/sf0.001"
MANIFEST = Path(__file__).with_name("oracle_digests.json")


def test_entry_smoke(spark):
    df = entry.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert set(df.columns) == {"conv_id", "n_turns", "conv_md"}


def test_oracle_keys_subset_of_queries():
    q = entry.queries()
    o = entry.oracle_sql()
    assert set(o).issubset(set(q))
    assert len(q) >= 35


@pytest.mark.parametrize("name", ["q1_pricing_summary", "x4_kie_fields"])
def test_oracle_spot_check(spark, name):
    from tools.check_oracle import table_digest
    q = entry.queries()[name]
    sdf = q(spark, SF)
    srows = [tuple(r) for r in sdf.collect()]
    con = duckdb_views(SF)
    rel = con.sql(entry.oracle_sql()[name])
    dcols = [d[0] for d in rel.description]
    drows = rel.fetchall()
    assert len(srows) == len(drows)
    assert sorted(sdf.columns) == sorted(dcols)
    assert table_digest(sdf.columns, srows) == table_digest(dcols, drows)


def test_oracle_twins_match_digest_manifest():
    """DuckDB side of every pair against the pinned digests (the Spark side
    is pinned to the same file by test_digest_stability), plus the exact
    queries() order, whose first 50 entries are the oracle-checked window.
    A change that alters a result on purpose edits the one manifest line
    the failure names."""
    from tools.check_oracle import table_digest
    pinned = json.loads(MANIFEST.read_text())
    assert list(entry.queries()) == pinned["queries"]
    twins = entry.oracle_sql()
    assert sorted(twins) == sorted(pinned["digests"])
    con = duckdb_views(SF)
    failures = []
    for name, sql in sorted(twins.items()):
        rel = con.sql(sql)
        got = table_digest([d[0] for d in rel.description], rel.fetchall())
        if got != pinned["digests"][name]:
            failures.append(f"{name}: duckdb {got} != manifest "
                            f"{pinned['digests'][name]}")
    assert not failures, "\n".join(failures)


def test_approx_distinct_within_tolerance(spark):
    row = entry.queries()["a15_approx_distinct"](spark, SF).collect()[0]
    assert abs(row["approx_parts"] - row["exact_parts"]) <= 0.05 * row["exact_parts"]
