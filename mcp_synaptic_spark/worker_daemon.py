"""Python worker daemon: pyspark's own daemon, with zip directories re-read
only when the archive changed.

pyspark's worker calls ``importlib.invalidate_caches()`` before every task
(``worker_util.setup_spark_files``). On CPython 3.11 that makes every
``zipimporter`` in ``sys.path_importer_cache`` re-read its archive's
central directory at once, and the workers import pyspark from
``$SPARK_HOME/python/lib/pyspark.zip`` (1,328 entries, about 16 importers
over it and py4j's zip). That re-read was 507 of 567 ms in a profile of one
reused worker task. `install` keeps the rule "a cache is reloaded when its
archive may have changed", and keys the change on the archive's
(st_mtime_ns, st_size, st_ino): an unchanged archive is not re-read, a
rewritten one is, and a missing one falls through to the stock reload, which
empties the cache without raising.

``session.get_spark`` sets ``spark.python.daemon.module`` to this module;
Spark starts it as ``python -m mcp_synaptic_spark.worker_daemon`` and every
worker it forks inherits the rule.
"""

from __future__ import annotations

import os
import zipimport

_reload = zipimport.zipimporter.invalidate_caches
_read_at: dict[str, tuple[int, int, int]] = {}  # archive -> stamp of the directory in zipimport's cache


def _stamp(archive: str) -> tuple[int, int, int] | None:
    try:
        st = os.stat(archive)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size, st.st_ino


def _invalidate_if_changed(self) -> None:
    """zipimporter.invalidate_caches, skipped while the archive's stamp is
    the one this importer last loaded. The stamp is taken before the read,
    so an archive rewritten during a read is read again next time."""
    stamp = _stamp(self.archive)
    if stamp is not None and self.__dict__.get("_stamp") == stamp:
        return
    cached = zipimport._zip_directory_cache.get(self.archive)
    if stamp is not None and cached is not None and _read_at.get(self.archive) == stamp:
        self._files = cached  # another importer of this archive read it at this stamp
    else:
        _reload(self)
        _read_at[self.archive] = stamp
    self._stamp = stamp


def install() -> None:
    zipimport.zipimporter.invalidate_caches = _invalidate_if_changed


if __name__ == "__main__":
    import importlib

    install()
    import pyspark.daemon

    importlib.invalidate_caches()  # stamp the importers the daemon's imports made; workers fork from here
    pyspark.daemon.manager()
