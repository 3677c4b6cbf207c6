"""docext_spark.session: the driver heap default fits the host, and the
per-JVM expression memo follows the JVM it was built in."""
from __future__ import annotations

import json
import os
import subprocess
import sys

from docext_spark.session import default_driver_memory


def _gib(mem: str) -> int:
    assert mem.endswith("g") and mem[:-1].isdigit(), mem
    return int(mem[:-1])


def test_default_driver_memory_fits_the_host():
    phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    gib = _gib(default_driver_memory())
    assert 1 <= gib <= 24
    assert gib * 2**30 < phys
    assert gib == 1 or gib * 2**30 <= phys // 2


def test_session_uses_the_default_unless_overridden(spark):
    want = os.environ.get("SPARK_DRIVER_MEM") or default_driver_memory()
    assert spark.sparkContext.getConf().get("spark.driver.memory") == want


def test_memo_survives_context_restart_and_jvm_relaunch(tmp_path):
    """Curation gives the same funnel, kept ids and sha256 (pandas UDF)
    verify rows in a first context, a new context in the same JVM (the
    memoized gate Column is reused) and a relaunched JVM (it is rebuilt)."""
    script = os.path.join(os.path.dirname(__file__), "jvm_memo_check.py")
    run = subprocess.run([sys.executable, script], cwd=tmp_path,
                         capture_output=True, text=True, timeout=900,
                         env=dict(os.environ, SPARK_DRIVER_MEM="1g"))
    assert run.returncode == 0, run.stderr[-3000:]
    first, restart, relaunch = [json.loads(ln) for ln in run.stdout.splitlines()
                                if ln.startswith("{")]
    assert [restart["reused_gate_col"], relaunch["reused_gate_col"]] == [
        True, False]
    assert first["kept"] == [0, 10, 20, 30, 40, 50, 60, 70]
    assert first["sha256_pairs"]
    for other in (restart, relaunch):
        for key in ("kept", "funnel", "sha256_pairs"):
            assert other[key] == first[key], (other["phase"], key)
