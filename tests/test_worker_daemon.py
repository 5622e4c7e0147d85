"""The Python-worker daemon (``worker_daemon``) and the session wiring
that selects it.

PySpark calls ``importlib.invalidate_caches()`` at the start of every
task; the daemon makes a zip importer skip the re-read of an archive
that has not changed, and must still pick up one that has. The session
ships the package root in ``spark.executorEnv.PYTHONPATH`` so the daemon
module imports from any working directory.
"""

from __future__ import annotations

import importlib
import os
import subprocess
import sys
import zipfile
import zipimport
from pathlib import Path

from dynamodb_stream_processor_2_0_spark import worker_daemon

REPO_ROOT = Path(__file__).resolve().parent.parent


def test_unchanged_archive_is_read_once_and_a_rewrite_is_picked_up(
    tmp_path, monkeypatch
):
    archive = str(tmp_path / "mods.zip")
    with zipfile.ZipFile(archive, "w") as zf:
        zf.writestr("m1.py", "VALUE = 1\n")

    reads = []
    read_directory = zipimport._read_directory

    def counting_read(path):
        reads.append(path)
        return read_directory(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting_read)
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches", worker_daemon.invalidate_caches
    )
    monkeypatch.setattr(worker_daemon, "_read_signature", {})
    monkeypatch.syspath_prepend(archive)
    try:
        assert importlib.import_module("m1").VALUE == 1
        del reads[:]

        importlib.invalidate_caches()
        importlib.invalidate_caches()
        assert reads.count(archive) == 1

        with zipfile.ZipFile(archive, "w") as zf:
            zf.writestr("m1.py", "VALUE = 1\n")
            zf.writestr("m2.py", "VALUE = 2\n")
        importlib.invalidate_caches()
        assert reads.count(archive) == 2
        assert importlib.import_module("m2").VALUE == 2
    finally:
        for name in ("m1", "m2"):
            sys.modules.pop(name, None)
        sys.path_importer_cache.pop(archive, None)
        zipimport._zip_directory_cache.pop(archive, None)


HOSTILE_CWD_SCRIPT = f"""
import sys
sys.path.insert(0, {str(REPO_ROOT)!r})
from dynamodb_stream_processor_2_0_spark.session import get_spark

spark = get_spark("hostile_cwd")
df = spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string")
rows = df.mapInPandas(lambda it: it, df.schema).collect()
print(sorted((r.k, r.v) for r in rows))
spark.stop()
"""


def test_get_spark_python_workers_start_outside_the_repo(tmp_path):
    """Spark starts the daemon as ``python -m <package>.worker_daemon``
    in the launch cwd; without the PYTHONPATH wiring every Python task
    fails with "EOFException occurred while reading the port number"."""
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env.update(SPARK_GRAFT_CPUS="2", SPARK_GRAFT_DRIVER_MEM="1g")
    proc = subprocess.run(
        [sys.executable, "-c", HOSTILE_CWD_SCRIPT],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    assert proc.stdout.strip().splitlines()[-1] == "[(1, 'a'), (2, 'b')]"
