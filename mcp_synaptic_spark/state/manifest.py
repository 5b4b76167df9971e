"""One persistence protocol for the persisted indexes: BRP-LSH and IVF
(operators/similarity.py), BM25 (operators/bm25_index.py), the dedup index
(operators/dedup.py) and the LM tables (operators/lm.py).

An index at ``path`` is ONE manifest, ``{path}/_index.json``, plus the data
directories it names:

- Every build and every append writes its parquet into fresh
  ``d-<uuid>`` directories that nothing reads until a manifest names them.
- The manifest maps each of the family's parts to its live directories
  (``"parts": {"postings": ["d-…", …], …}``) and carries the family's
  ``kind`` and ``format``, its parameters (centroids, planes, corpus
  stats, LM recipe, …) and its bookkeeping (the bounded batch
  fingerprints of recent appends).
- A writer takes an exclusive ``flock`` on ``{path}/_index.lock``, reads
  the live manifest, writes its new directories, and publishes the next
  manifest as a uniquely named, fsynced temp file renamed over the old
  one. Then it removes every ``d-*`` entry the new manifest does not name.
  A crash before the rename leaves the index exactly as it was; the
  orphaned directories go with the next writer's cleanup.
- Readers never lock: the rename swaps whole manifests, and a manifest
  only names directories that were complete before it was published.

A lock, not an optimistic log like ``state/txn.py``: every index writer
reads the live index (overlap guards, IVF cell choice, BM25's additive
stats) and no reader asks for an older version, so a versioned log would
only add a retry path. The lock is reentrant within a thread (a caller
may hold it across several commits); separate threads open separate
descriptors, so they exclude each other like separate processes do.
"""

from __future__ import annotations

import contextlib
import fcntl
import json
import os
import shutil
import threading
import uuid
from functools import reduce

from pyspark.sql import DataFrame

MANIFEST = "_index.json"
LOCK = "_index.lock"

#: per thread, the absolute index paths whose writer lock it holds
_held = threading.local()


def write_json(target: str, obj) -> None:
    """Replace ``target`` with ``obj`` as JSON atomically: a uniquely named
    temp file in the same directory, fsynced, renamed over ``target``, and
    the directory fsynced so the rename itself is durable."""
    tmp = f"{target}.tmp-{uuid.uuid4().hex}"
    try:
        with open(tmp, "w") as f:
            json.dump(obj, f)
            f.flush()
            os.fsync(f.fileno())
        os.replace(tmp, target)
    finally:
        with contextlib.suppress(FileNotFoundError):
            os.unlink(tmp)
    fd = os.open(os.path.dirname(os.path.abspath(target)), os.O_RDONLY)
    try:
        os.fsync(fd)
    finally:
        os.close(fd)


def remember(items: list, item) -> list:
    """``items`` plus ``item``, keeping the 64 most recent: replay and
    idempotence checks only need to recognise recent batches, and an
    unbounded list would grow the manifest forever."""
    return (items + [item])[-64:]


def frame(spark, path: str, dirs: list[str], schema: str | None = None) -> DataFrame:
    """One part's live directories as one frame. Each directory is read
    on its own, so its partition columns (``cell=``, ``bucket=``) are
    discovered relative to itself, and the reads are unioned; a query's
    partition and pushed filters reach every scan through the union. An
    explicit ``schema`` skips the per-read footer inference."""
    reader = spark.read.schema(schema) if schema else spark.read
    return reduce(DataFrame.unionByName, [reader.parquet(os.path.join(path, d)) for d in dirs])


@contextlib.contextmanager
def locked(path: str):
    """Hold the index's writer lock (reentrant within a thread)."""
    key = os.path.abspath(path)
    held = _held.__dict__.setdefault("paths", set())
    if key in held:
        yield
        return
    os.makedirs(path, exist_ok=True)
    fd = os.open(os.path.join(path, LOCK), os.O_RDWR | os.O_CREAT, 0o644)
    try:
        fcntl.flock(fd, fcntl.LOCK_EX)  # released by the close below
        held.add(key)
        yield
    finally:
        held.discard(key)
        os.close(fd)


class Family:
    """One index family: the ``kind`` and ``format`` its manifests carry,
    and the writer a missing index points the caller to."""

    def __init__(self, kind: str, fmt: str, writer: str):
        self.kind, self.format, self.writer = kind, fmt, writer

    def read(self, path: str) -> dict | None:
        """The published manifest, or None when ``path`` holds no index of
        this family and format (a writer then builds one)."""
        try:
            with open(os.path.join(path, MANIFEST)) as f:
                m = json.load(f)
        except FileNotFoundError:
            return None
        return m if (m.get("kind"), m.get("format")) == (self.kind, self.format) else None

    def load(self, path: str) -> dict:
        m = self.read(path)
        if m is None:
            raise FileNotFoundError(
                f"no {self.kind} index (format {self.format}) at {path}; "
                f"build it with {self.writer}"
            )
        return m

    @contextlib.contextmanager
    def commit(self, path: str):
        """Hold the writer lock and yield a `Commit` over the live manifest."""
        with locked(path):
            yield Commit(self, path, self.read(path))


class Commit:
    """One writer's turn: ``manifest`` is the live manifest read under the
    lock (None for a first build); ``new_dir`` names fresh data
    directories; ``publish`` makes a manifest naming them live."""

    def __init__(self, family: Family, path: str, manifest: dict | None):
        self.family, self.path, self.manifest = family, path, manifest

    def require(self) -> dict:
        if self.manifest is None:
            return self.family.load(self.path)  # raises the missing-index error
        return self.manifest

    def new_dir(self) -> tuple[str, str]:
        """(name, absolute path) of a fresh data directory."""
        name = f"d-{uuid.uuid4().hex}"
        return name, os.path.join(self.path, name)

    def publish(self, manifest: dict) -> None:
        m = {**manifest, "kind": self.family.kind, "format": self.family.format}
        write_json(os.path.join(self.path, MANIFEST), m)
        self.manifest = m
        live = {d for dirs in m["parts"].values() for d in dirs}
        for name in os.listdir(self.path):
            if name.startswith("d-") and name not in live:
                shutil.rmtree(os.path.join(self.path, name), ignore_errors=True)
