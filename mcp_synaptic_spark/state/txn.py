"""Transactional parquet table with a Delta-style commit log.

The reference gets atomic upsert/delete from SQLite transactions
(reference memory/storage/sqlite.py:75-108). This module is the one
persistence protocol for mutable state here — the memory table, the
expiry sweep (streaming/expiry.py) and the dedup admissions ledger — built
on the publicly-documented lakehouse commit protocol (Delta's optimistic
concurrency / Iceberg's atomic metadata swap — no Delta jars exist in this
environment, so the protocol is implemented directly on POSIX):

- Data lives in immutable uuid-named directories of parquet part files;
  a table VERSION is a JSON commit file listing its live entries.
- Commits are numbered ``_txn/NNNNNN.json`` and published with an atomic
  ``os.link`` of a fully-written temp file — creation either wins or raises
  EEXIST, so exactly one writer owns each version (the same
  put-if-absent primitive Delta requires of its log store).
- Writers are optimistic: read latest version → write NEW data dirs →
  try to publish version+1 → on conflict, recompute against the winner's
  state and retry. Lost updates are impossible; writers never block readers.
- Readers are snapshot-isolated for free: a version's file set is immutable,
  so a reader holding version N is unaffected by later commits (until
  vacuum drops superseded dirs).
- A crash before publish leaves ORPHAN data dirs and an unchanged table;
  ``vacuum()`` removes anything no commit references. No rename dance, no
  recovery step on the read path.

Write path (merge-on-read, the Hudi MoR / Delta deletion-vector shape): a
table is ONE base directory plus an ordered list of deltas, each carrying
its key set in the commit entry. ``upsert`` and ``put_if_absent`` append a
delta directory holding only the batch (O(batch) bytes, no base read);
``delete_where`` appends a TOMBSTONE, the matched keys with no directory.
``read()`` resolves last-writer-wins from the commit alone, in one scan
of the base and delta directories: a row is kept when no delta names its
key, or when its file lies in the delta that last wrote its key. The
delta keys reach the plan as SQL literals (past ten keys an IN list the
optimizer turns into a hash set): one lookup per row however many keys
are live, and no broadcast, no window, no per-directory union. Once the deltas pass
``_MAX_DELTAS`` entries or ``_key_bound()`` keys (which grows with the
base) the winning writer ``compact()``s them into a new base; a single
write past the key bound folds straight into a rewrite of the base, so no
commit lists more keys than that bound. Extra ``stat_cols`` (e.g.
expires_at) record per-directory min/max so ``delete_where`` can skip
directories a range predicate provably misses (zone maps on the sweep
column); the skip stays exact on deltas because key exclusion comes from
the commit, not from the directories scanned. Tables whose deltas record
no keys (written before deltas listed them) must be compacted by the
release that wrote them: ``read()`` refuses them.

Log compaction (new r8): every ``checkpoint_interval`` commits the winning
writer also publishes ``_txn/NNNNNN.checkpoint.json`` — the full table
state at that version (each commit here already carries full state, so the
checkpoint is a durable copy outside the cleanable window) — and refreshes
the ``_txn/_last_checkpoint`` hint (atomic ``os.replace``; a hint exactly
as in Delta, never the source of truth). ``clean_log()`` then removes
commit JSONs (and drain markers) older than the newest checkpoint,
bounding the log at O(checkpoint_interval + recent) files instead of
O(versions). Readers of cleaned versions fall back to that version's
checkpoint when one exists; older snapshots are gone — the documented
log-retention trade every lakehouse makes. Versions with UNdrained events
are never cleaned (exactly-once delivery survives compaction).

Per-call cost: a handle does each call's discovery work once (a Delta
snapshot fixes a version's files and schema the same way). ``read()``
memoizes its frame keyed by the live entries' identities (directory names,
and the version of each tombstone) — never the version number alone: a
table re-created at the same path has new uuid dirs — so a repeat read of
an unchanged table lists no files and runs no job. Every parquet read
takes the schema the handle recorded when it wrote or first inferred the
directory, so only a directory written through another handle costs an
inference job; the schema never enters the commit JSON. A write evaluates
its batch once: one write job, then one aggregate over the written files
for the entry's row count, zone maps and keys.
"""

from __future__ import annotations

import datetime as _dt
import json
import os
import shutil
import uuid

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import StructType, TimestampNTZType, TimestampType

_LOG_DIR = "_txn"

#: compaction thresholds: a commit that leaves more delta entries than
#: _MAX_DELTAS, or more delta keys than _key_bound() allows, makes its writer
#: compact(). The entry bound caps the small files each scan opens: on the
#: 20k-row memory table (4-core VM, medians of interleaved reads; see
#: CHANGES.md) a get at 3-6 deltas costs within about 12 ms of the 100-130 ms
#: it costs compacted. The key bound caps the commit JSON, which carries
#: every delta key, and the key-set literal each snapshot parses; it grows
#: with the base (one key per _BASE_ROWS_PER_KEY base rows), because a
#: compaction rewrites the whole base and must stay rare at scale.
_MAX_DELTAS = 8
_MAX_DELTA_KEYS = 1_000
_BASE_ROWS_PER_KEY = 1_000
#: Spark's default spark.sql.optimizer.inSetConversionThreshold: an IN list
#: longer than this becomes a hash set (InSet)
_IN_SET_MIN_KEYS = 10


def _commit_path(table_path: str, version: int) -> str:
    return os.path.join(table_path, _LOG_DIR, f"{version:06d}.json")


def _checkpoint_path(table_path: str, version: int) -> str:
    return os.path.join(table_path, _LOG_DIR, f"{version:06d}.checkpoint.json")


def _key_bound(live: list[dict]) -> int:
    """Most delta keys ``live`` may carry before a compaction, and the most
    keys one write may list in its commit entry: _MAX_DELTA_KEYS, or one
    key per _BASE_ROWS_PER_KEY base rows when the base is larger."""
    base_rows = sum(d.get("n", 0) for d in live if "keys" not in d)
    return max(_MAX_DELTA_KEYS, base_rows // _BASE_ROWS_PER_KEY)


def _commit_versions(names) -> list[int]:
    """Versions of the ``NNNNNN.json`` commit files among ``names``."""
    out = []
    for name in names:
        stem, _, ext = name.partition(".")
        if ext == "json" and stem.isdigit():
            out.append(int(stem))
    return out


class TxnTable:
    """Handle to a transactional table rooted at ``path``.

    ``key_col`` is the upsert identity column, string- or integer-typed;
    rows with a NULL key are dropped by every write (a keyed table has no
    meaningful NULL key, and a NULL can't be named in a key set).
    ``stat_cols`` are extra columns whose per-directory min/max ride each
    commit (zone maps); ``delete_where(..., skip_dir=...)`` prunes on them.
    ``checkpoint_interval`` controls how often a winning writer also
    publishes a checkpoint (every Nth version; Delta's default is 10).
    """

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        key_col: str = "key",
        *,
        stat_cols: tuple[str, ...] = (),
        checkpoint_interval: int = 10,
    ):
        if checkpoint_interval < 1:
            raise ValueError(f"checkpoint_interval must be >= 1, got {checkpoint_interval}")
        self.spark = spark
        self.path = path
        self.key_col = key_col
        self.stat_cols = tuple(stat_cols)
        self.checkpoint_interval = checkpoint_interval
        #: (live entry identities, frame) of the last read(); parquet schema per dir
        self._snap: tuple[tuple, DataFrame] | None = None
        self._schemas: dict[str, StructType] = {}

    # ---------------------------------------------------------------- log

    def version(self) -> int:
        """Latest committed version, -1 if the table doesn't exist yet.
        The _last_checkpoint hint floors the answer when older commit files
        have been cleaned (the listing itself stays authoritative — the hint
        is refreshed non-atomically with publication, exactly like Delta)."""
        log = os.path.join(self.path, _LOG_DIR)
        if not os.path.isdir(log):
            return -1
        return max(max(_commit_versions(os.listdir(log)), default=-1), self._checkpoint_hint())

    def _checkpoint_hint(self) -> int:
        try:
            with open(os.path.join(self.path, _LOG_DIR, "_last_checkpoint")) as f:
                return int(json.load(f)["version"])
        except (FileNotFoundError, ValueError, KeyError, json.JSONDecodeError):
            return -1

    def _live(self, version: int) -> list[dict]:
        return self._read_commit(version)["live"]

    def _read_commit(self, version: int) -> dict:
        """Commit content for ``version`` — from its commit file, or from its
        checkpoint when clean_log() has truncated the commit away. A version
        with neither is outside the retention window."""
        try:
            with open(_commit_path(self.path, version)) as f:
                return json.load(f)
        except FileNotFoundError:
            try:
                with open(_checkpoint_path(self.path, version)) as f:
                    return json.load(f)
            except FileNotFoundError:
                raise FileNotFoundError(
                    f"version {version} of {self.path} is outside the log "
                    "retention window (cleaned without a checkpoint)"
                ) from None

    def _try_publish(self, version: int, commit: dict) -> bool:
        """Atomically publish ``commit`` as ``version`` (see _link_once).
        True on win, False if a concurrent writer owns this version. The
        winner also writes the version's checkpoint when the interval
        divides it — checkpointing is single-writer by construction (only
        the publish winner does it), so no second put-if-absent dance is
        needed."""
        os.makedirs(os.path.join(self.path, _LOG_DIR), exist_ok=True)
        if not _link_once(_commit_path(self.path, version), json.dumps(commit)):
            return False
        if version > 0 and version % self.checkpoint_interval == 0:
            self._write_checkpoint(version, commit)
        return True

    def _write_checkpoint(self, version: int, commit: dict) -> None:
        """Durable full-state copy + _last_checkpoint hint. Both writes are
        crash-safe: the checkpoint goes through the same fsync+link publish
        (idempotent — EEXIST means an earlier attempt finished), the hint
        through write-then-os.replace (atomic on POSIX; a stale hint is
        harmless — version() max-es it with the listing)."""
        _link_once(_checkpoint_path(self.path, version), json.dumps(commit))
        hint_tmp = os.path.join(self.path, _LOG_DIR, f".hint-{uuid.uuid4().hex}.json")
        with open(hint_tmp, "w") as f:
            json.dump({"version": version}, f)
            f.flush()
            os.fsync(f.fileno())
        os.replace(hint_tmp, os.path.join(self.path, _LOG_DIR, "_last_checkpoint"))

    def clean_log(self) -> list[int]:
        """Remove commit JSONs (and their drain markers) strictly older than
        the newest checkpoint; returns the cleaned version numbers. A version
        whose commit carries UNdrained events is never cleaned — and neither
        is anything older (drain_events replays in version order, so cleaning
        past an undrained commit would break exactly-once delivery).

        Bounds the log dir at O(interval + commits-since-checkpoint) files.
        Production note: Delta gates cleaning on a time-based retention
        window; the floor logic is the same."""
        floor = self._checkpoint_hint()
        cleaned: list[int] = []
        for v in range(floor):
            cpath = _commit_path(self.path, v)
            if not os.path.exists(cpath):
                continue
            with open(cpath) as f:
                c = json.load(f)
            marker = os.path.join(self.path, _LOG_DIR, f"{v:06d}.drained")
            if c.get("events") and not os.path.exists(marker):
                break  # undrained events: stop — order-preserving retention
            os.unlink(cpath)
            if os.path.exists(marker):
                os.unlink(marker)
            cleaned.append(v)
        return cleaned

    # --------------------------------------------------------------- data

    def _write_data_dir(self, df: DataFrame, *, keys: int = 0) -> tuple[str, dict]:
        """Write one immutable data directory; returns (dir_name, stats):
        row count ``n``, a min/max zone map per configured stat column and,
        when the directory holds at most ``keys`` rows, the key list of a
        delta — all from one agg over the freshly-written files. At most
        ``keys + 1`` keys reach the driver whatever the directory holds."""
        name = f"d-{uuid.uuid4().hex}"
        df.write.parquet(os.path.join(self.path, name))
        self._schemas[name] = df.schema
        aggs = [F.count("*").alias("n")]
        for c in self.stat_cols:
            # Timestamp stats are recorded as EPOCH MICROS, not datetimes:
            # driver-side collection converts TimestampType through the
            # driver OS timezone (naive local datetimes), so an ISO-string
            # zone map written east of UTC would read AHEAD of a UTC `now`
            # and wrongly skip directories holding already-expired rows.
            # unix_micros is computed JVM-side from the internal epoch value
            # — no conversion anywhere, comparable against any wall clock.
            col = F.col(c)
            dt = df.schema[c].dataType
            if isinstance(dt, TimestampNTZType):
                col = F.unix_micros(col.cast("timestamp"))
            elif isinstance(dt, TimestampType):
                col = F.unix_micros(col)
            aggs += [F.min(col).alias(f"_lo_{c}"), F.max(col).alias(f"_hi_{c}")]
        if keys:
            aggs.append(F.slice(F.collect_list(self.key_col), 1, keys + 1).alias("keys"))
        aggs.append(F.collect_set("_metadata.file_name").alias("_files"))
        row = self._read_dirs([name]).agg(*aggs).first()
        if row["_files"]:
            # partition 0 always writes a file, empty or not: drop empty
            # files, which every later scan of the directory would open
            for f in os.listdir(os.path.join(self.path, name)):
                if f.startswith("part-") and f not in row["_files"]:
                    for junk in (f, f".{f}.crc"):
                        if os.path.exists(os.path.join(self.path, name, junk)):
                            os.remove(os.path.join(self.path, name, junk))
        stats = {"n": row["n"]}
        if self.stat_cols:
            stats["stats"] = {
                c: {"lo": _portable_stat(row[f"_lo_{c}"]), "hi": _portable_stat(row[f"_hi_{c}"])}
                for c in self.stat_cols
            }
        if keys and row["n"] <= keys:
            stats["keys"] = list(row["keys"])
        return name, stats

    def _read_dirs(self, dirs: list[str]) -> DataFrame:
        """Read data directories under the first one's parquet schema. Only
        a directory new to this handle (written through another one) costs
        Spark's footer-inference job, whose result is then recorded."""
        paths = [os.path.join(self.path, d) for d in dirs]
        schema = self._schemas.get(dirs[0])
        if schema is not None:
            return self.spark.read.schema(schema).parquet(*paths)
        df = self.spark.read.parquet(*paths)
        for d in dirs:
            self._schemas.setdefault(d, df.schema)
        return df

    def read(self, version: int | None = None) -> DataFrame:
        """Snapshot of ``version`` (default: latest). An unchanged live set
        returns the previous call's frame: same files, no listing, no job."""
        v = self.version() if version is None else version
        if v < 0:
            raise FileNotFoundError(f"no committed version at {self.path}")
        return self._snapshot(self._live(v))

    def _snapshot(self, live: list[dict]) -> DataFrame:
        # a tombstone adds no directory, so it is identified by its version
        ids, snap = tuple(d.get("dir", d.get("v")) for d in live), self._snap
        if snap is None or snap[0] != ids:
            snap = self._snap = (ids, self._resolve(live))
        return snap[1]

    def _resolve(self, live: list[dict], skip_dir=None) -> DataFrame | None:
        """Last-writer-wins frame of ``live``, from the commit alone, in ONE
        scan of the base and the delta directories still holding some key's
        latest write: a row is kept when no delta names its key, or when
        its file lies in the directory that last wrote its key.

        ``skip_dir`` leaves out directories whose stats prove no row
        matches the caller's predicate (None when nothing is left to scan).
        The key exclusion still comes from every delta, so a skipped
        directory never re-exposes an older copy. The schema record keeps
        only ``live``'s directories."""
        if any(d.get("delta") and "keys" not in d for d in live):
            raise ValueError(
                f"{self.path} holds merge-on-read deltas that record no keys "
                "(written before deltas listed them): compact() it with the "
                "release that wrote it first"
            )
        names = {d["dir"] for d in live if "dir" in d}
        self._schemas = {n: s for n, s in self._schemas.items() if n in names}
        skip = skip_dir or (lambda d: False)
        deltas = [d for d in live if "keys" in d]
        latest = {k: i for i, d in enumerate(deltas) for k in d["keys"]}
        owned = {}
        for i, d in enumerate(deltas):
            if "dir" in d and not skip(d):
                ks = [k for k in d["keys"] if latest[k] == i]
                if ks:
                    owned[d["dir"]] = ks
        base = [d["dir"] for d in live if "keys" not in d and not skip(d)]
        if not base and not owned:
            return None
        rows = self._read_dirs(base + list(owned))
        if not latest:
            return rows
        # Both key tests are SQL text (a Column.isin tree costs a Python-to-
        # JVM call per key), and for string keys neither's generated code
        # depends on the keys, so a commit recompiles nothing. A few delta
        # keys are a JSON array literal the optimizer folds to a constant;
        # past _IN_SET_MIN_KEYS they are an IN list, which the optimizer
        # turns into a hash set: one lookup per row however many keys are
        # live, where array_contains would cost rows x keys. Only rows whose
        # key some delta names reach the ownership test, a folded JSON map.
        key, kt = f"`{self.key_col}`", rows.schema[self.key_col].dataType.simpleString()
        if len(latest) > _IN_SET_MIN_KEYS:
            named = f"{key} IN ({', '.join(_sql_literal(k) for k in latest)})"
        else:
            named = f"array_contains(from_json({_sql_string(json.dumps(list(latest)))}, 'array<{kt}>'), {key})"
        won = f"from_json({_sql_string(json.dumps(owned))}, 'map<string,array<{kt}>>')"
        own_dir = "element_at(split(_metadata.file_path, '/'), -2)"
        return rows.where(F.expr(
            f"NOT {named} OR array_contains(try_element_at({won}, {own_dir}), {key})"
        ))

    # ------------------------------------------------------------- writes

    @classmethod
    def create(
        cls,
        spark: SparkSession,
        path: str,
        df: DataFrame,
        key_col: str = "key",
        *,
        stat_cols: tuple[str, ...] = (),
        checkpoint_interval: int = 10,
    ) -> "TxnTable":
        """Create the table as version 0: one base directory. Fails if
        version 0 already exists. The base is written rebalanced, as a
        compaction writes it, so its files follow its size rather than the
        input's partitioning (one large input file would otherwise leave a
        base every later scan reads in one task)."""
        t = cls(spark, path, key_col, stat_cols=stat_cols, checkpoint_interval=checkpoint_interval)
        os.makedirs(path, exist_ok=True)
        name, stats = t._write_data_dir(df.where(F.col(key_col).isNotNull()).hint("rebalance"))
        if not t._try_publish(0, {"version": 0, "op": "create", "live": [{"dir": name, **stats}]}):
            raise FileExistsError(f"table already created at {path}")
        return t

    def _commit_write(self, v: int, live: list[dict], entry: dict, op: str, fold, **extra) -> bool:
        """Publish version ``v + 1``; False when a concurrent writer owns it.

        An ``entry`` that lists its keys is appended as the newest delta. A
        write past the key bound lists none: ``fold`` (``snapshot ->
        frame``) then gives the table's new content, written as ONE plain
        base directory, so the commit JSON never carries more keys than
        _key_bound() allows. The winner compacts when the deltas now pass a
        threshold — after the publish, so an exception from that compaction
        leaves the write committed."""
        if "keys" in entry:
            live = live + [dict(entry, v=v + 1)]
        else:
            # rebalance: AQE sizes the output files, so the union of base
            # and delta scans does not leave one small file per partition
            name, stats = self._write_data_dir(fold(self._snapshot(live)).hint("rebalance"))
            live = [{"dir": name, **stats}]
        if not self._try_publish(v + 1, {"version": v + 1, "op": op, "live": live, **extra}):
            return False
        deltas = [d for d in live if "keys" in d]
        if len(deltas) > _MAX_DELTAS or sum(len(d["keys"]) for d in deltas) > _key_bound(live):
            self.compact()
        return True

    def _latest_per_key(self, df: DataFrame) -> DataFrame:
        """``df`` without NULL keys, one row per key: the copy with the
        latest ``updated_at`` (operators/memory.py:upsert_by_key's rule)."""
        order = F.col("updated_at").desc() if "updated_at" in df.columns else F.lit(0)
        w = Window.partitionBy(self.key_col).orderBy(order)
        return (
            df.where(F.col(self.key_col).isNotNull())
            .withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") == 1).drop("_rn")
        )

    def upsert(self, updates: DataFrame) -> int:
        """Last-writer-wins keyed upsert as one ACID commit; returns its
        version. The batch lands as ONE delta directory — O(batch) bytes,
        no base read, no rewrite — whose keys ride the commit entry. When
        a key repeats inside the batch, the copy with the latest
        ``updated_at`` wins (operators/memory.py:upsert_by_key's rule). A
        batch of more rows than _key_bound() allows is instead folded into
        the table with one rewrite of the base, so its keys never enter the
        commit log.

        The directory is written once, before the publish loop: a conflict
        retries at the next version with the same directory, so no update
        is lost and nothing is rewritten. An empty batch commits nothing.
        A compaction the commit triggers runs after the publish: an
        exception raised there leaves this upsert committed."""
        bound = _key_bound(self._live(self.version()))
        name, stats = self._write_data_dir(updates, keys=bound)
        if "keys" in stats and len(set(stats["keys"])) < stats["n"]:
            # a NULL key (collect_list skips it) or a repeated one: rewrite
            # from the written files, so the batch is still evaluated once
            dup = name
            name, stats = self._write_data_dir(self._latest_per_key(self._read_dirs([dup])), keys=bound)
            shutil.rmtree(os.path.join(self.path, dup), ignore_errors=True)
        if stats.get("keys") == []:
            shutil.rmtree(os.path.join(self.path, name), ignore_errors=True)
            return self.version()

        def fold(snap: DataFrame) -> DataFrame:
            batch = self._read_dirs([name])
            kept = snap.join(batch.select(self.key_col), self.key_col, "left_anti")
            return kept.unionByName(self._latest_per_key(batch))

        while True:
            v = self.version()
            if self._commit_write(v, self._live(v), {"dir": name, **stats}, "upsert", fold):
                if "keys" not in stats:
                    # folded into the new base: the batch directory is spent
                    shutil.rmtree(os.path.join(self.path, name), ignore_errors=True)
                return v + 1
            # conflict: a concurrent writer won this version; append again

    def put_if_absent(self, updates: DataFrame) -> tuple[int, DataFrame]:
        """First-writer-wins keyed insert as one ACID commit: only rows whose
        key is NOT already present land; returns ``(version, inserted_df)``
        where ``inserted_df`` reads back exactly the committed rows (empty
        when every key was already taken — the version is then the one that
        proved it). The arbitration primitive for racing admitters (VERDICT
        r8 next-round #3): two writers inserting the same key produce
        EXACTLY ONE insertion, and the loser's returned frame excludes it —
        the loser thereby LEARNS the key was taken, which last-writer-wins
        `upsert` cannot tell it.

        Existence is checked against the RESOLVED keys: a key a tombstone
        deleted can be inserted again, a shadowed one is still taken. The
        insert is a delta like an upsert's; past _key_bound() rows it is
        folded into a rewrite of the base instead, and ``inserted_df`` then
        reads a directory no commit references (vacuum() reclaims it).
        Optimistic retry on version conflict: the retry re-filters against
        the winner's state, so the check-then-insert is atomic at commit
        granularity. Batch-internal duplicate keys are collapsed arbitrarily
        (dropDuplicates) — pre-dedup the batch when which-copy-wins matters.
        NULL-key rows are DROPPED, never inserted (a NULL can't be
        arbitrated: the anti-join existence check never matches it, so it
        would re-insert on every call). A compaction the commit triggers
        runs after the publish: an exception raised there leaves the insert
        committed."""
        fresh = updates.where(F.col(self.key_col).isNotNull()).dropDuplicates([self.key_col])
        while True:
            v = self.version()
            if v < 0:
                raise FileNotFoundError(
                    f"no committed version at {self.path} — create() the table first"
                )
            live = self._live(v)
            taken = self._snapshot(live).select(self.key_col)
            name, stats = self._write_data_dir(
                fresh.join(taken, self.key_col, "left_anti"), keys=_key_bound(live)
            )
            if stats["n"] == 0:
                # nothing new to insert — drop the empty uncommitted dir
                # (ours alone, never referenced) and report version v
                shutil.rmtree(os.path.join(self.path, name), ignore_errors=True)
                return v, updates.limit(0)
            inserted = self._read_dirs([name])
            if self._commit_write(
                v, live, {"dir": name, **stats}, "insert_if_absent",
                lambda snap: snap.unionByName(inserted),
            ):
                return v + 1, inserted
            # conflict: orphan dir (vacuum reclaims); recompute and retry

    def delete_where(self, condition: Column | str, events_of=None, skip_dir=None) -> tuple[int, int]:
        """Delete matching rows in one ACID commit (the DELETE-WHERE
        substitution for the expiry sweep). Returns (new_version, n_deleted);
        commits nothing when no row matches.

        One scan of the resolved snapshot finds the matching keys, and the
        commit appends them as a TOMBSTONE: a delta with keys and no data
        directory. No directory is rewritten, and a shadowed older copy of a
        deleted key stays hidden, because the base filter excludes every
        delta key. At most _key_bound() + 1 keys reach the driver: a delete
        that matches more rewrites the base without its rows instead.

        ``events_of`` (optional, ``matching_rows_df -> events_df``) builds an
        events frame that rides the SAME commit in an events directory — the
        transactional substitute for expiry.py's staged-rename dance. It is
        invoked INSIDE the optimistic-retry loop over the exact snapshot the
        commit deletes from, so events always agree with the deleted rows
        even when a concurrent writer forces a retry. A crash before publish
        shows neither the delete nor the events; after publish, both.
        drain_events() delivers them exactly-once downstream. A compaction
        the commit triggers runs after the publish: an exception raised
        there leaves the delete and its events committed.

        ``skip_dir`` (optional, ``dir_commit_entry -> bool``) is the zone-map
        fast path: return True when the directory's recorded stats PROVE no
        row matches — that directory is not scanned. The callable must be
        conservative (missing stats ⇒ False); ``expired_skipper`` builds the
        one the TTL sweep needs.
        """
        cond = F.expr(condition) if isinstance(condition, str) else condition
        while True:
            v = self.version()
            live = self._live(v)
            snap = self._snapshot(live) if skip_dir is None else self._resolve(live, skip_dir)
            if snap is None:
                return v, 0
            matched = snap.where(cond)
            bound = _key_bound(live)
            n, keys = matched.agg(
                F.count("*"), F.slice(F.collect_list(self.key_col), 1, bound + 1)
            ).first()
            if not n:
                return v, 0
            extra = {}
            if events_of is not None:
                extra["events"] = f"e-{uuid.uuid4().hex}"
                events_of(matched).write.parquet(os.path.join(self.path, extra["events"]))
            entry = {"keys": list(keys)} if n <= bound else {}
            kept = lambda snap: snap.where(~F.coalesce(cond, F.lit(False)))  # noqa: E731
            if self._commit_write(v, live, entry, "delete", kept, **extra):
                return v + 1, n

    def compact(self) -> int:
        """Fold the deltas into ONE plain base directory — the OPTIMIZE step
        of the lifecycle, which the winning writer of a commit runs once the
        deltas pass ``_MAX_DELTAS`` or _key_bound(). It writes the resolved
        snapshot, whose key exclusion past ten keys is one hash-set lookup
        per row, so its cost grows with the rows, not rows x keys; reads of
        the result filter nothing and the base's zone maps describe only
        live rows. Compaction is an ordinary commit (op="compact", same
        optimistic publish), so it coexists safely with concurrent writers
        — a conflict just retries — and superseded dirs stay on disk for
        snapshot readers until vacuum(keep_from_version=...) reclaims them.
        No-op on a table that is already one directory.
        """
        while True:
            v = self.version()
            live = self._live(v)
            if len(live) <= 1:
                return v
            if self._commit_write(v, live, {}, "compact", lambda snap: snap):
                return v + 1

    # ------------------------------------------------------------ hygiene

    def vacuum(self, keep_from_version: int | None = None) -> list[str]:
        """Remove data/event directories referenced by NO commit (orphans
        from crashed or conflicted writes) and, when ``keep_from_version``
        is set, directories referenced ONLY by commits older than it
        (superseded snapshots readers no longer pin). Returns removed names.

        Production note: Delta gates this on a retention window (time since
        supersession) rather than a version floor; the reclamation logic is
        the same."""
        latest = self.version()
        if latest < 0:
            return []
        # orphan-only mode keeps anything ANY commit references; a version
        # floor additionally drops dirs only older commits reference
        floor = 0 if keep_from_version is None else keep_from_version
        referenced: set[str] = set()
        for v in range(floor, latest + 1):
            try:
                c = self._read_commit(v)
            except FileNotFoundError:
                # cleaned version: its live dirs either carry over into newer
                # commits (full-state "live" lists) or are legitimately dead
                continue
            # an entry may name a subdirectory (d-xxx/_rb=K in tables written
            # with range directories): keep its whole top-level directory
            referenced.update(d["dir"].split("/", 1)[0] for d in c["live"] if "dir" in d)
            if c.get("events"):
                referenced.add(c["events"])
        removed = []
        for name in os.listdir(self.path):
            if name == _LOG_DIR or name in referenced:
                continue
            if not (name.startswith("d-") or name.startswith("e-")):
                continue
            shutil.rmtree(os.path.join(self.path, name), ignore_errors=True)
            removed.append(name)
        return removed


def _link_once(dst: str, text: str) -> bool:
    """Create ``dst`` holding ``text`` unless it exists (False then): a
    fully-written, fsynced temp file is os.link-ed into place, so a reader
    never observes a partial file and of racing writers exactly one wins.
    The temp name is unique per call — a SHARED one would let one writer's
    unlink yank the file from under another's link."""
    tmp = os.path.join(os.path.dirname(dst), f".tmp-{uuid.uuid4().hex}")
    with open(tmp, "w") as f:
        f.write(text)
        f.flush()
        os.fsync(f.fileno())
    try:
        os.link(tmp, dst)
        return True
    except FileExistsError:
        return False
    finally:
        os.unlink(tmp)


def _sql_string(text: str) -> str:
    """SQL string literal holding ``text``, escaped for Spark's default
    literal syntax (backslash escapes): keys inside it come from callers, so
    every backslash and quote is backslash-escaped, anything else is kept."""
    return "'" + text.replace("\\", "\\\\").replace("'", "\\'") + "'"


def _sql_literal(key) -> str:
    """SQL literal of one string or integer key."""
    return str(int(key)) if isinstance(key, int) else _sql_string(key)


def _portable_stat(value):
    """Zone-map stat value, JSON-serializable and driver-comparable:
    numbers as-is, datetimes/dates as ISO strings (lexicographic order ==
    temporal order for a uniform UTC layout), ASCII strings as-is; anything
    else → None (the skipper must then refuse to prune)."""
    if isinstance(value, bool):
        return None
    if isinstance(value, (int, float)):
        return value
    if isinstance(value, (_dt.datetime, _dt.date)):
        return value.isoformat()
    if isinstance(value, str) and value.isascii():
        return value
    return None


def expired_skipper(col: str, now):
    """Zone-map skipper for the TTL sweep's ``{col} IS NOT NULL AND {col} <=
    now`` predicate: a directory is provably match-free when its recorded
    minimum is strictly AFTER now (min/max ignore NULLs, and NULL rows never
    match the predicate, so an all-null or missing-stat directory simply
    isn't skippable).

    Timestamp zone maps are EPOCH MICROS (see _write_data_dir), so the
    comparison is pure integer arithmetic with no timezone anywhere: ``now``
    (a datetime — naive means UTC, the sweep's convention) is converted to
    epoch micros explicitly via a UTC attach, never through the driver OS
    timezone. A directory whose stats predate the numeric format (legacy
    ISO strings) is NOT skippable — those strings were rendered in the
    writing driver's local timezone, and comparing them against a UTC now
    is the mixed-timezone bug this function refuses to reintroduce; the
    directory simply gets scanned (correctness over pruning)."""
    if isinstance(now, _dt.datetime):
        aware = now if now.tzinfo is not None else now.replace(tzinfo=_dt.timezone.utc)
        now_us = int(aware.timestamp() * 1_000_000)
    elif isinstance(now, (int, float)):
        now_us = int(now)
    else:
        raise TypeError(f"now must be a datetime or epoch micros, got {type(now)!r}")

    def skip(d: dict) -> bool:
        s = (d.get("stats") or {}).get(col) or {}
        lo = s.get("lo")
        return (
            lo is not None
            and isinstance(lo, (int, float))
            and not isinstance(lo, bool)
            and int(lo) > now_us
        )

    return skip


def _require_same_filesystem(table_path: str, events_dir: str) -> None:
    """Fail fast if the table and events_dir live on different filesystems.

    The exactly-once event drain relies on os.rename being atomic, which only
    holds within one filesystem; a cross-device rename raises EXDEV mid-drain,
    and a copy fallback would silently break the atomicity guarantee. Better
    to refuse before anything moves (or, in the expiry sweep, before its
    delete commits) with an actionable message.
    """

    def dev_of(path: str) -> int:
        p = os.path.abspath(path)
        while not os.path.exists(p):
            parent = os.path.dirname(p)
            if parent == p:
                break
            p = parent
        return os.stat(p).st_dev

    if dev_of(table_path) != dev_of(events_dir):
        raise ValueError(
            f"table ({table_path}) and events_dir ({events_dir}) must be on "
            "the same filesystem: the exactly-once event drain moves staged "
            "part-files with atomic os.rename, which cannot cross devices"
        )


def drain_events(table: TxnTable, events_dir: str, *, up_to_version: int | None = None) -> int:
    """Deliver committed event directories into ``events_dir`` exactly once.

    Each commit's events move part-file-by-part-file with atomic renames
    (same filesystem required — checked first), then the version is sealed
    with a ``NNNNNN.drained`` marker published via the same atomic-link
    primitive — a crash mid-drain re-runs only unsealed versions, and part
    names embed uuids so re-renaming is collision-free.

    One listing of the log finds the work: the commit files present and not
    yet sealed. clean_log() only removes versions that are drained or carry
    no events, so a version without a commit file has nothing to deliver,
    and the cost does not grow with the table's history.
    Returns the number of versions drained."""
    _require_same_filesystem(table.path, events_dir)
    latest = table.version() if up_to_version is None else up_to_version
    log = os.path.join(table.path, _LOG_DIR)
    names = set(os.listdir(log)) if os.path.isdir(log) else set()
    drained = 0
    for v in sorted(_commit_versions(names)):
        if v > latest or f"{v:06d}.drained" in names:
            continue
        try:
            with open(_commit_path(table.path, v)) as f:
                ename = json.load(f).get("events")
        except FileNotFoundError:
            continue  # cleaned since the listing: drained or eventless
        if ename:
            pending = os.path.join(table.path, ename)
            os.makedirs(events_dir, exist_ok=True)
            if os.path.isdir(pending):
                for part in os.listdir(pending):
                    if part.endswith(".parquet") and not part.startswith((".", "_")):
                        try:
                            os.rename(os.path.join(pending, part), os.path.join(events_dir, part))
                        except FileNotFoundError:
                            # a CONCURRENT drainer moved this part between our
                            # listdir and rename — the destination name is
                            # identical, so exactly-once delivery holds; skip
                            pass
            drained += 1
        _link_once(os.path.join(log, f"{v:06d}.drained"), "")  # a concurrent drainer may have sealed it
    return drained
