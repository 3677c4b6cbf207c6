"""docext_spark.worker_daemon: zip archives are re-read only when they
change, and the workers of a ``get_spark`` session run that patch."""
from __future__ import annotations

import json
import os
import subprocess
import sys
import zipfile
import zipimport

from docext_spark import worker_daemon


def test_invalidate_caches_rereads_only_a_changed_archive(tmp_path,
                                                          monkeypatch):
    archive = str(tmp_path / "pkg.zip")
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr("mod_a.py", "A = 1\n")
    importer = zipimport.zipimporter(archive)
    reads = []
    stock_read = zipimport._read_directory

    def counting_read(path):
        reads.append(path)
        return stock_read(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting_read)
    for _ in range(3):
        worker_daemon.invalidate_caches(importer)
    assert reads == [archive]

    with zipfile.ZipFile(archive, "a") as z:
        z.writestr("mod_b.py", "B = 2\n")
    assert importer.find_spec("mod_b") is None  # stale until re-read
    worker_daemon.invalidate_caches(importer)
    assert reads == [archive, archive]
    assert importer.find_spec("mod_b") is not None
    assert importer.find_spec("mod_a") is not None


def test_workers_run_patch_from_any_cwd(tmp_path):
    """A session started outside the repo root: its workers import the
    daemon, run the patch, and extract what the kernel returns."""
    script = os.path.join(os.path.dirname(__file__), "worker_daemon_check.py")
    run = subprocess.run([sys.executable, script], cwd=tmp_path,
                         capture_output=True, text=True, timeout=600,
                         env=dict(os.environ, SPARK_DRIVER_MEM="1g"))
    assert run.returncode == 0, run.stderr[-3000:]
    (line,) = [ln for ln in run.stdout.splitlines() if ln.startswith("{")]
    r = json.loads(line)
    assert r["spark_md"] and r["spark_md"] == r["kernel_md"]
    expected = ("docext_spark.worker_daemon" if sys.version_info < (3, 13)
                else "zipimport")
    assert r["patch_modules"] == [expected]
