"""The Python worker daemon (mcp_synaptic_spark/worker_daemon.py): a zip
on sys.path is re-read by `importlib.invalidate_caches()` only when the
archive changed, and a `get_spark` session's workers run with that rule
whatever the caller's cwd and PYTHONPATH."""

from __future__ import annotations

import importlib
import os
import subprocess
import sys
import textwrap
import zipfile
import zipimport

from mcp_synaptic_spark import worker_daemon

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _write_zip(path: str, source: str) -> None:
    tmp = path + ".tmp"
    with zipfile.ZipFile(tmp, "w") as z:
        z.writestr("zipmod_probe.py", source)
    os.replace(tmp, path)  # a rewrite is a new file, as a reinstall makes it


def test_zip_directory_reread_only_when_the_archive_changed(tmp_path, monkeypatch):
    archive = str(tmp_path / "probe.zip")
    _write_zip(archive, "VALUE = 1\n")
    reads = []
    read_directory = zipimport._read_directory

    def counting(path):
        reads.append(path)
        return read_directory(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", zipimport.zipimporter.invalidate_caches)
    monkeypatch.setattr(worker_daemon, "_read_at", {})
    monkeypatch.syspath_prepend(archive)
    monkeypatch.delitem(sys.modules, "zipmod_probe", raising=False)
    worker_daemon.install()

    import zipmod_probe

    assert zipmod_probe.VALUE == 1
    importlib.invalidate_caches()  # the first call stamps the importer
    reads.clear()
    for _ in range(3):
        importlib.invalidate_caches()
    assert archive not in reads  # unchanged: not re-read

    _write_zip(archive, "VALUE = 22\n")
    importlib.invalidate_caches()
    assert reads.count(archive) == 1  # rewritten: re-read once
    del sys.modules["zipmod_probe"]
    import zipmod_probe

    assert zipmod_probe.VALUE == 22  # the new directory's offsets serve the new content
    reads.clear()
    importlib.invalidate_caches()
    assert archive not in reads

    os.remove(archive)
    importlib.invalidate_caches()  # deleted: the stock reload empties the cache, no raise
    assert archive not in zipimport._zip_directory_cache


_WORKER_PROBE = textwrap.dedent(
    """
    import sys
    sys.path.insert(0, sys.argv[1])
    from mcp_synaptic_spark.session import get_spark

    def reads(_):
        import importlib, zipimport
        n = [0]
        read_directory = zipimport._read_directory
        def counting(path):
            n[0] += 1
            return read_directory(path)
        zipimport._read_directory = counting
        try:
            importlib.invalidate_caches()
            n[0] = 0
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = read_directory
        return n[0]

    spark = get_spark("worker-daemon-probe")
    print("ZIP_READS", spark.sparkContext.parallelize([0, 1], 2).map(reads).collect())
    spark.stop()
    """
)


def test_session_workers_run_the_rule_outside_the_checkout(tmp_path):
    """A session started with cwd outside the checkout and no PYTHONPATH
    still imports the daemon (a daemon that fails to import fails every
    Python task), and its workers re-read no archive on a second
    invalidation: pyspark.zip's importers are stamped."""
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env.update(SPARK_GRAFT_CPUS="2", SPARK_DRIVER_MEMORY="1g")
    out = subprocess.run(
        [sys.executable, "-c", _WORKER_PROBE, REPO],
        cwd=str(tmp_path), env=env, capture_output=True, text=True, timeout=300,
    )
    assert out.returncode == 0, out.stderr[-4000:]
    assert "ZIP_READS [0, 0]" in out.stdout, (out.stdout, out.stderr[-4000:])
