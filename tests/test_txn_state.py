"""TxnTable (state/txn.py): the Delta-protocol ACID backend for the memory
store — commit atomicity, optimistic concurrency (no lost updates),
merge-on-read deltas and tombstones resolved through key-set literals,
threshold compaction, crash/orphan behavior, snapshot isolation, and the
transactional expiry sweep twin (no rename dance, exactly-once events)."""

from __future__ import annotations

import json
import os
import shutil
import uuid
from datetime import datetime, timezone

from pyspark import StorageLevel
from pyspark.sql import functions as F

from mcp_synaptic_spark.state import txn
from mcp_synaptic_spark.state.txn import TxnTable, drain_events
from mcp_synaptic_spark.streaming.expiry import sweep_once_txn
import pytest

SCHEMA = "key string, updated_at timestamp, expires_at timestamp, payload string"


def _rows(spark, *triples):
    return spark.createDataFrame(
        [
            (k, datetime(2025, 1, 1, tzinfo=timezone.utc), exp, p)
            for k, exp, p in triples
        ],
        SCHEMA,
    )


def test_create_read_upsert_roundtrip(spark, tmp_path):
    path = str(tmp_path / "t")
    t = TxnTable.create(spark, path, _rows(spark, ("a", None, "1"), ("b", None, "2")))
    assert t.version() == 0
    assert {r.key for r in t.read().collect()} == {"a", "b"}

    v = t.upsert(_rows(spark, ("b", None, "2x"), ("c", None, "3")))
    assert v == 1
    got = {r.key: r.payload for r in t.read().collect()}
    assert got == {"a": "1", "b": "2x", "c": "3"}  # last-writer-wins on b


def test_snapshot_isolation_and_empty_upsert(spark, tmp_path):
    path = str(tmp_path / "t")
    t = TxnTable.create(spark, path, _rows(spark, ("a", None, "1")))
    old = t.read(0)
    t.upsert(_rows(spark, ("a", None, "2")))
    # the version-0 reader still sees its snapshot after the commit
    assert [r.payload for r in old.collect()] == ["1"]
    assert [r.payload for r in t.read().collect()] == ["2"]
    # empty update batch commits nothing
    assert t.upsert(t.read().limit(0)) == t.version() == 1


def test_conflict_retry_loses_no_update(spark, tmp_path):
    """Simulated race: writer B publishes the contested version while writer
    A is mid-flight (forced by pre-creating A's target commit file from B's
    data). A's os.link must fail, and A's retry must land BOTH updates."""
    path = str(tmp_path / "t")
    t = TxnTable.create(spark, path, _rows(spark, ("a", None, "base")))

    real_publish = t._try_publish
    raced = {"done": False}

    def racing_publish(version, commit):
        if not raced["done"]:
            raced["done"] = True
            # writer B sneaks in and wins this exact version first
            b = TxnTable(spark, path)
            assert b.upsert(_rows(spark, ("b", None, "fromB"))) == version
        return real_publish(version, commit)

    t._try_publish = racing_publish
    v = t.upsert(_rows(spark, ("c", None, "fromA")))
    assert v == 2  # lost version 1 to B, retried as 2
    got = {r.key: r.payload for r in t.read().collect()}
    assert got == {"a": "base", "b": "fromB", "c": "fromA"}


def test_threaded_writers_no_lost_updates(spark, tmp_path):
    from concurrent.futures import ThreadPoolExecutor

    path = str(tmp_path / "t")
    t = TxnTable.create(spark, path, _rows(spark, ("seed", None, "0")))

    def write(i):
        TxnTable(spark, path).upsert(_rows(spark, (f"k{i}", None, str(i))))

    with ThreadPoolExecutor(max_workers=4) as ex:
        list(ex.map(write, range(8)))
    keys = {r.key for r in t.read().collect()}
    assert keys == {"seed"} | {f"k{i}" for i in range(8)}
    assert t.version() == 8  # one commit per successful upsert, none lost


def test_crash_before_publish_is_invisible_and_vacuumable(spark, tmp_path):
    path = str(tmp_path / "t")
    t = TxnTable.create(spark, path, _rows(spark, ("a", None, "1")))
    # simulate a crash: data dir written, commit never published
    orphan, _ = t._write_data_dir(_rows(spark, ("ghost", None, "x")))
    assert {r.key for r in t.read().collect()} == {"a"}  # reader unaffected
    removed = t.vacuum()
    assert removed == [orphan]
    assert not os.path.isdir(os.path.join(path, orphan))
    # table still fully functional
    t.upsert(_rows(spark, ("b", None, "2")))
    assert {r.key for r in t.read().collect()} == {"a", "b"}


def test_partial_commit_file_never_visible(spark, tmp_path):
    """The publish primitive links a fully-written fsynced temp file — there
    is no moment where a commit path exists with partial content."""
    path = str(tmp_path / "t")
    t = TxnTable.create(spark, path, _rows(spark, ("a", None, "1")))
    for name in os.listdir(os.path.join(path, "_txn")):
        with open(os.path.join(path, "_txn", name)) as f:
            json.load(f)  # every visible commit parses


def test_upsert_rewrites_only_overlapping_dirs(spark, tmp_path):
    """An upsert rewrites no directory at all: every live directory carries
    over by reference and the batch lands as one delta whose keys ride the
    commit entry. Last-writer-wins holds across deltas."""
    path = str(tmp_path / "t")
    t = TxnTable.create(spark, path, _rows(spark, ("a1", None, "1"), ("a2", None, "2")))
    t.upsert(_rows(spark, ("z1", None, "26")))
    live_before = t._read_commit(t.version())["live"]
    assert len(live_before) == 2 and live_before[1]["keys"] == ["z1"]

    t.upsert(_rows(spark, ("z1", None, "26x")))
    live_after = t._read_commit(t.version())["live"]
    assert live_after[:2] == live_before and live_after[2]["keys"] == ["z1"]
    got = {r.key: r.payload for r in t.read().collect()}
    assert got == {"a1": "1", "a2": "2", "z1": "26x"}
    assert t.read().count() == 3  # the older delta's z1 stays shadowed


def test_delete_where_with_events_single_commit(spark, tmp_path):
    path = str(tmp_path / "t")
    t = TxnTable.create(
        spark,
        path,
        _rows(
            spark,
            ("keep", None, "1"),
            ("drop1", datetime(2024, 1, 1, tzinfo=timezone.utc), "2"),
            ("drop2", datetime(2024, 1, 1, tzinfo=timezone.utc), "3"),
        ),
    )
    now = F.to_timestamp(F.lit("2025-06-01 00:00:00"))
    cond = F.col("expires_at").isNotNull() & (F.col("expires_at") <= now)
    v, n = t.delete_where(cond, events_of=lambda m: m.select("key"))
    assert (v, n) == (1, 2)
    assert {r.key for r in t.read().collect()} == {"keep"}
    # events ride the same commit
    c = t._read_commit(1)
    assert c["events"].startswith("e-")
    evs = spark.read.parquet(os.path.join(path, c["events"]))
    assert {r.key for r in evs.collect()} == {"drop1", "drop2"}
    # no-match delete commits nothing
    assert t.delete_where(cond) == (1, 0)


def test_sweep_once_txn_counts_and_events_exactly_once(spark, tmp_path):
    path, events_dir = str(tmp_path / "t"), str(tmp_path / "events")
    past = datetime(2024, 1, 1, tzinfo=timezone.utc)
    t = TxnTable.create(
        spark,
        path,
        _rows(spark, ("live", None, "1"), ("dead1", past, "2"), ("dead2", past, "3")),
    )
    now = datetime(2025, 6, 1, tzinfo=timezone.utc)
    assert sweep_once_txn(t, events_dir, now=now) == 2
    assert {r.key for r in t.read().collect()} == {"live"}
    evs = spark.read.parquet(events_dir)
    assert sorted(r.key for r in evs.collect()) == ["dead1", "dead2"]
    assert {r.event_type for r in evs.collect()} == {"memory_expired"}
    # idempotent second sweep: nothing expired, nothing re-delivered
    assert sweep_once_txn(t, events_dir, now=now) == 0
    assert spark.read.parquet(events_dir).count() == 2


def test_sweep_once_txn_crash_between_commit_and_drain(spark, tmp_path):
    """Crash AFTER the delete commit but BEFORE the drain: the next sweep
    delivers the stranded events exactly once, with no rename dance and no
    recovery path to run."""
    path, events_dir = str(tmp_path / "t"), str(tmp_path / "events")
    past = datetime(2024, 1, 1, tzinfo=timezone.utc)
    t = TxnTable.create(spark, path, _rows(spark, ("live", None, "1"), ("dead", past, "2")))
    now = datetime(2025, 6, 1, tzinfo=timezone.utc)
    now_col = F.to_timestamp(F.lit(now.strftime("%Y-%m-%d %H:%M:%S")))
    cond = F.col("expires_at").isNotNull() & (F.col("expires_at") <= now_col)
    # the sweep's commit half only — "crash" before any drain runs
    _, n = t.delete_where(
        cond,
        events_of=lambda m: m.select(
            F.lit("memory_expired").alias("event_type"), F.col("key"), now_col.alias("ts")
        ),
    )
    assert n == 1
    assert not os.path.isdir(events_dir)  # events not delivered yet
    # state is already consistent — the commit was atomic
    assert {r.key for r in t.read().collect()} == {"live"}
    # next sweep drains first, then finds nothing new to expire
    assert sweep_once_txn(t, events_dir, now=now) == 0
    assert [r.key for r in spark.read.parquet(events_dir).collect()] == ["dead"]
    # and a third pass re-delivers nothing (drained marker seals the version)
    drain_events(t, events_dir)
    assert spark.read.parquet(events_dir).count() == 1


def test_vacuum_reclaims_superseded_versions(spark, tmp_path):
    path = str(tmp_path / "t")
    t = TxnTable.create(spark, path, _rows(spark, ("a", None, "1")))
    t.upsert(_rows(spark, ("a", None, "2")))
    t.upsert(_rows(spark, ("a", None, "3")))
    all_dirs = [n for n in os.listdir(path) if n.startswith("d-")]
    assert len(all_dirs) == 3
    # every directory is still live (base + two deltas) until a compaction
    # supersedes them
    assert t.vacuum(keep_from_version=t.version()) == []
    t.compact()
    removed = t.vacuum(keep_from_version=t.version())
    assert sorted(removed) == sorted(all_dirs)
    # latest version still reads fine
    assert [r.payload for r in t.read().collect()] == ["3"]


def test_sweep_once_txn_matches_cleanup_expired(spark, tmp_path):
    """sweep_once_txn over a TxnTable must agree with the pure
    operators.memory.cleanup_expired transform on the same rows: same
    expired count, same surviving keys, same delivered events."""
    from mcp_synaptic_spark.operators.memory import cleanup_expired

    past = datetime(2024, 1, 1, tzinfo=timezone.utc)
    future = datetime(2030, 1, 1, tzinfo=timezone.utc)
    rows = [("live", None, "1"), ("later", future, "2"), ("dead1", past, "3"), ("dead2", past, "4")]
    now = datetime(2025, 6, 1, tzinfo=timezone.utc)
    now_col = F.to_timestamp(F.lit(now.strftime("%Y-%m-%d %H:%M:%S")))
    survivors, expired = cleanup_expired(_rows(spark, *rows), now_col)

    path, events_dir = str(tmp_path / "tx"), str(tmp_path / "tx_events")
    t = TxnTable.create(spark, path, _rows(spark, *rows), stat_cols=("expires_at",))
    n = sweep_once_txn(t, events_dir, now=now)

    assert n == expired.count() == 2
    assert {r.key for r in t.read().collect()} == {
        r.key for r in survivors.collect()
    } == {"live", "later"}
    assert sorted(r.key for r in spark.read.parquet(events_dir).collect()) == sorted(
        r.key for r in expired.collect()
    ) == ["dead1", "dead2"]


@pytest.mark.volume
@pytest.mark.parametrize("max_deltas", [None, 2, "fold"])
def test_txn_random_op_sequences_match_dict_model(spark, tmp_path, monkeypatch, max_deltas):
    """Model-based check: random interleaved upsert/put_if_absent/delete
    sequences applied to a TxnTable must match a plain dict model applying
    the same ops — deltas, tombstones and compaction may not change
    keyed-store semantics. Runs at the default compaction threshold, at
    one low enough to compact mid-sequence, and with a key bound of 2, so
    most writes fold into a rewrite of the base. Deterministic seed; ~40
    commits across 4 scenarios."""
    import random

    if max_deltas == "fold":
        max_deltas = 2
        monkeypatch.setattr(txn, "_MAX_DELTA_KEYS", 2)
    if max_deltas is not None:
        monkeypatch.setattr(txn, "_MAX_DELTAS", max_deltas)
    rng = random.Random(1234)
    keyspace = [f"k{i:02d}" for i in range(30)]

    for scenario in range(4):
        path = str(tmp_path / f"model{scenario}")
        seed_keys = rng.sample(keyspace, 8)
        model = {k: f"v0-{k}" for k in seed_keys}
        t = TxnTable.create(
            spark, path, _rows(spark, *[(k, None, model[k]) for k in seed_keys])
        )
        for step in range(10):
            roll = rng.random()
            if roll < 0.5:
                batch_keys = rng.sample(keyspace, rng.randint(1, 5))
                batch = {k: f"v{step + 1}-{k}" for k in batch_keys}
                t.upsert(_rows(spark, *[(k, None, v) for k, v in batch.items()]))
                model.update(batch)
            elif roll < 0.7:
                batch_keys = rng.sample(keyspace, rng.randint(1, 5))
                batch = {k: f"p{step + 1}-{k}" for k in batch_keys}
                _, ins = t.put_if_absent(_rows(spark, *[(k, None, v) for k, v in batch.items()]))
                fresh = {k: v for k, v in batch.items() if k not in model}
                assert {r.key: r.payload for r in ins.collect()} == fresh
                model.update(fresh)
            else:
                victim = rng.choice(keyspace)
                t.delete_where(F.col("key") == victim)
                model.pop(victim, None)
                if not model:
                    break  # table read() needs >=0 rows; empty dir is fine but stop early
            got = {r.key: r.payload for r in t.read().collect()}
            assert got == model, f"scenario {scenario} diverged at step {step}"
            if max_deltas is not None:
                live = t._read_commit(t.version())["live"]
                assert sum("keys" in d for d in live) <= max_deltas
        # final state survives vacuum of superseded versions
        t.vacuum(keep_from_version=t.version())
        got = {r.key: r.payload for r in t.read().collect()}
        assert got == model


def test_concurrent_drainers_exactly_once(spark, tmp_path):
    """Two drainers racing the same committed events: the loser of each
    part-file rename (FileNotFoundError) must skip, not crash, and the
    events land exactly once."""
    from concurrent.futures import ThreadPoolExecutor

    path, events_dir = str(tmp_path / "t"), str(tmp_path / "events")
    past = datetime(2024, 1, 1, tzinfo=timezone.utc)
    t = TxnTable.create(
        spark, path, _rows(spark, ("live", None, "1"), *[(f"dead{i}", past, str(i)) for i in range(6)])
    )
    now = F.to_timestamp(F.lit("2025-06-01 00:00:00"))
    cond = F.col("expires_at").isNotNull() & (F.col("expires_at") <= now)
    t.delete_where(cond, events_of=lambda m: m.select("key"))

    with ThreadPoolExecutor(max_workers=2) as ex:
        list(ex.map(lambda _: drain_events(TxnTable(spark, path), events_dir), range(2)))

    assert sorted(r.key for r in spark.read.parquet(events_dir).collect()) == sorted(
        f"dead{i}" for i in range(6)
    )


def test_compact_merges_live_dirs_preserving_state(spark, tmp_path):
    """After a stream of upserts the table holds many small dirs; compact
    must fold them into ONE live dir with identical rows, behave as a
    normal commit (version bump, snapshot readers keep their view), and
    leave the old dirs for vacuum."""
    path = str(tmp_path / "t")
    t = TxnTable.create(spark, path, _rows(spark, ("a", None, "1")))
    for i in range(5):
        t.upsert(_rows(spark, (f"k{i}", None, str(i))))
    before = {r.key: r.payload for r in t.read().collect()}
    v_before = t.version()
    live_before = t._read_commit(v_before)["live"]
    assert len(live_before) == 6  # create + 5 disjoint upserts

    old_reader = t.read(v_before)
    v = t.compact()
    assert v == v_before + 1
    live = t._read_commit(v)["live"]
    assert len(live) == 1
    assert {r.key: r.payload for r in t.read().collect()} == before
    # a snapshot reader of the pre-compaction version still reads its view
    # (compaction adds a commit, it doesn't touch existing dirs)...
    assert {r.key: r.payload for r in old_reader.collect()} == before
    # ...until vacuum's version floor reclaims the superseded dirs
    removed = t.vacuum(keep_from_version=v)
    assert len(removed) == 6
    assert {r.key: r.payload for r in t.read().collect()} == before
    # compact again is a no-op
    assert t.compact() == v
    # subsequent writes still work against the compacted layout
    t.upsert(_rows(spark, ("k0", None, "updated")))
    got = {r.key: r.payload for r in t.read().collect()}
    assert got["k0"] == "updated" and len(got) == len(before)


# --- r8: checkpoint compaction + zone-map pruning ---------------------------

def test_checkpoint_written_and_log_cleaned(spark, tmp_path):
    """Every `checkpoint_interval` commits the winner writes a checkpoint +
    _last_checkpoint hint; clean_log() then truncates older commit files and
    read()/version() still serve the exact state (from the checkpoint)."""
    path = str(tmp_path / "t")
    t = TxnTable.create(
        spark, path, _rows(spark, ("a", None, "1")), checkpoint_interval=2
    )
    for i in range(4):  # versions 1..4; checkpoints at 2 and 4
        t.upsert(_rows(spark, (f"k{i}", None, str(i))))
    log = os.listdir(os.path.join(path, "_txn"))
    assert "000002.checkpoint.json" in log and "000004.checkpoint.json" in log
    assert "_last_checkpoint" in log
    cleaned = t.clean_log()
    assert cleaned == [0, 1, 2, 3]
    left = sorted(n for n in os.listdir(os.path.join(path, "_txn")) if n.endswith(".json"))
    assert "000004.json" in left and "000000.json" not in left
    assert t.version() == 4
    got = {r.key: r.payload for r in t.read().collect()}
    assert got == {"a": "1", "k0": "0", "k1": "1", "k2": "2", "k3": "3"}
    # a version cleaned WITHOUT a checkpoint is outside retention
    import pytest as _pytest

    with _pytest.raises(FileNotFoundError, match="retention"):
        t.read(version=1)
    # the checkpointed version v2 had its commit file cleaned too — reading
    # it exercises the checkpoint fallback
    assert not os.path.exists(os.path.join(path, "_txn", "000002.json"))
    assert {r.key for r in t.read(version=2).collect()} == {"a", "k0", "k1"}


def test_clean_log_never_passes_undrained_events(spark, tmp_path):
    """Exactly-once survives compaction: a version with undrained events (and
    everything after it) stays in the log until drained."""
    past = datetime(2024, 1, 1, tzinfo=timezone.utc)
    path = str(tmp_path / "t")
    t = TxnTable.create(
        spark, path, _rows(spark, ("live", None, "1"), ("dead", past, "2")),
        checkpoint_interval=1,
    )
    cond = F.col("expires_at").isNotNull()
    t.delete_where(cond, events_of=lambda m: m.select("key"))  # v1 + events
    for i in range(2):
        t.upsert(_rows(spark, (f"k{i}", None, str(i))))  # v2, v3 (ckpt each)
    assert t.clean_log() == [0]  # stops AT v1: events not yet drained
    drain_events(t, str(tmp_path / "events"))
    assert t.clean_log() == [1, 2]
    assert {r.key for r in t.read().collect()} == {"live", "k0", "k1"}


def test_threaded_writers_with_checkpoints_no_lost_updates(spark, tmp_path):
    """The r7 race test re-run on a checkpointing table: concurrent winners
    write checkpoints mid-race; no update lost, state exact after cleaning."""
    from concurrent.futures import ThreadPoolExecutor

    path = str(tmp_path / "t")
    t = TxnTable.create(
        spark, path, _rows(spark, ("seed", None, "0")), checkpoint_interval=2
    )

    def w(i):
        TxnTable(spark, path, checkpoint_interval=2).upsert(
            _rows(spark, (f"k{i}", None, str(i)))
        )

    with ThreadPoolExecutor(max_workers=4) as ex:
        list(ex.map(w, range(6)))
    t.clean_log()
    got = {r.key: r.payload for r in t.read().collect()}
    assert got == {"seed": "0", **{f"k{i}": str(i) for i in range(6)}}
    assert t.version() == 6


def test_delete_where_zone_map_skips_future_dirs(spark, tmp_path):
    """expires_at stats prune the sweep: a directory whose minimum expiry is
    in the future is neither scanned nor rewritten."""
    from mcp_synaptic_spark.state.txn import expired_skipper

    future = datetime(2030, 1, 1, tzinfo=timezone.utc)
    past = datetime(2024, 1, 1, tzinfo=timezone.utc)
    path = str(tmp_path / "t")
    t = TxnTable.create(
        spark, path, _rows(spark, ("f1", future, "1"), ("f2", future, "2")),
        stat_cols=("expires_at",),
    )
    t.upsert(_rows(spark, ("p1", past, "3"), ("x", None, "4")))
    now = datetime(2026, 1, 1)
    commit = t._read_commit(t.version())
    skip = expired_skipper("expires_at", now)
    skipped = [d["dir"] for d in commit["live"] if skip(d)]
    assert len(skipped) == 1  # exactly the all-future directory
    scanned = []
    orig = t._read_dirs

    def spy(dirs):
        scanned.extend(dirs)
        return orig(dirs)

    t._read_dirs = spy
    cond = F.col("expires_at").isNotNull() & (F.col("expires_at") <= F.lit(now))
    _, n = t.delete_where(cond, skip_dir=skip)
    t._read_dirs = orig
    assert n == 1  # only p1 deleted
    assert skipped[0] not in scanned, "future-only dir must not be scanned"
    assert {r.key for r in t.read().collect()} == {"f1", "f2", "x"}


def test_sweep_once_txn_uses_stats_and_agrees(spark, tmp_path):
    """sweep_once_txn on a stat-recording table: same sweep result as the
    r7-graded path, with the future-only directory pruned by zone map."""
    future = datetime(2030, 1, 1, tzinfo=timezone.utc)
    past = datetime(2024, 1, 1, tzinfo=timezone.utc)
    path = str(tmp_path / "t")
    t = TxnTable.create(
        spark, path, _rows(spark, ("f1", future, "1")), stat_cols=("expires_at",)
    )
    t.upsert(_rows(spark, ("dead", past, "2"), ("live", None, "3")))
    n = sweep_once_txn(t, str(tmp_path / "events"))
    assert n == 1
    assert {r.key for r in t.read().collect()} == {"f1", "live"}


def test_timestamp_zone_maps_are_epoch_micros(spark, tmp_path):
    """r9 (ADVICE r8): timestamp stats are recorded as epoch micros computed
    JVM-side — never driver-local datetimes rendered to ISO strings — so the
    skip comparison is timezone-free integer arithmetic. A directory whose
    stats predate the numeric format (legacy ISO strings) must NOT be
    pruned: those strings carry the writing driver's local timezone."""
    from mcp_synaptic_spark.state.txn import expired_skipper

    exp = datetime(2027, 6, 1, 12, 0, 0, tzinfo=timezone.utc)
    path = str(tmp_path / "t")
    t = TxnTable.create(
        spark, path, _rows(spark, ("a", exp, "1")), stat_cols=("expires_at",)
    )
    stats = t._read_commit(t.version())["live"][0]["stats"]["expires_at"]
    want_us = int(exp.timestamp() * 1_000_000)
    assert stats["lo"] == want_us and stats["hi"] == want_us
    # prune decisions flip exactly at the recorded micros, not at any
    # string rendering of the instant
    just_before = datetime(2027, 6, 1, 11, 59, 59)  # naive == UTC convention
    just_after = datetime(2027, 6, 1, 12, 0, 1)
    d = t._read_commit(t.version())["live"][0]
    assert expired_skipper("expires_at", just_before)(d) is True
    assert expired_skipper("expires_at", just_after)(d) is False
    # legacy string stats: conservative — never skipped
    legacy = {"stats": {"expires_at": {"lo": "2030-01-01T00:00:00", "hi": "2030-01-01T00:00:00"}}}
    assert expired_skipper("expires_at", just_before)(legacy) is False


def test_put_if_absent_first_writer_wins(spark, tmp_path):
    path = str(tmp_path / "t")
    t = TxnTable.create(spark, path, _rows(spark, ("a", None, "v1")))
    v, ins = t.put_if_absent(_rows(spark, ("a", None, "LOSER"), ("b", None, "v2")))
    assert v == 1
    assert [r.key for r in ins.collect()] == ["b"]
    got = {r.key: r.payload for r in t.read().collect()}
    assert got == {"a": "v1", "b": "v2"}  # existing key untouched
    # all taken: no new version, empty return
    v2, ins2 = t.put_if_absent(_rows(spark, ("a", None, "x"), ("b", None, "y")))
    assert v2 == 1 and ins2.count() == 0
    assert {r.key: r.payload for r in t.read().collect()} == got


def test_put_if_absent_threaded_exactly_one_insertion(spark, tmp_path):
    """Two racing writers inserting the SAME key: exactly one lands, and the
    loser's returned frame excludes it — the admission-arbitration contract
    (a last-writer-wins upsert cannot tell the loser it lost)."""
    import threading

    path = str(tmp_path / "t")
    t = TxnTable.create(spark, path, _rows(spark, ("seed", None, "0")))
    results = {}

    def writer(tag):
        tbl = TxnTable(spark, path)
        v, ins = tbl.put_if_absent(
            _rows(spark, ("contested", None, tag), (f"own-{tag}", None, tag))
        )
        results[tag] = {r.key for r in ins.collect()}

    th = [threading.Thread(target=writer, args=(x,)) for x in ("A", "B")]
    [x.start() for x in th]
    [x.join() for x in th]
    winners = [tag for tag, keys in results.items() if "contested" in keys]
    assert len(winners) == 1, results
    rows = {r.key: r.payload for r in t.read().collect()}
    assert rows["contested"] == winners[0]
    assert set(rows) == {"seed", "contested", "own-A", "own-B"}


def test_put_if_absent_null_keys_dropped(spark, tmp_path):
    """A NULL key can't be arbitrated (the anti-join existence check never
    matches NULL, so it would re-insert on EVERY call — ADVICE r9): NULL
    rows are dropped, idempotently, and never land in the table."""
    path = str(tmp_path / "t")
    t = TxnTable.create(spark, path, _rows(spark, ("seed", None, "0")))
    for _ in range(2):  # second call must not re-insert either
        v, ins = t.put_if_absent(_rows(spark, (None, None, "ghost")))
        assert v == 0 and ins.count() == 0
    assert t.read().where(f"{t.key_col} IS NULL").count() == 0
    # mixed batch: non-NULL rows still land exactly once
    _, ins = t.put_if_absent(_rows(spark, (None, None, "ghost"), ("k", None, "x")))
    assert [r.key for r in ins.collect()] == ["k"]
    assert t.read().count() == 2


def test_put_if_absent_batch_internal_dupes_collapse(spark, tmp_path):
    path = str(tmp_path / "t")
    t = TxnTable.create(spark, path, _rows(spark, ("seed", None, "0")))
    _, ins = t.put_if_absent(_rows(spark, ("k", None, "x"), ("k", None, "y")))
    assert [r.key for r in ins.collect()] == ["k"]
    assert t.read().where("key = 'k'").count() == 1


def _mkrows(spark, keys, payload="p"):
    return _rows(spark, *[(k, None, payload) for k in keys])


def _deltas(t, version=None):
    """Delta entries (upserts and tombstones) live at ``version``."""
    v = t.version() if version is None else version
    return [d for d in t._read_commit(v)["live"] if "keys" in d]


def _jobs_of(spark, fn):
    """fn()'s result and the number of Spark jobs it launched."""
    sc = spark.sparkContext
    group = f"txn-jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()  # job starts are posted async
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_read_reuses_snapshot_frame_until_live_set_changes(spark, tmp_path):
    """read() memoizes its frame by the live set's directory names: a repeat
    read of an unchanged table is the same frame and launches no job, and a
    keyed exists over a fresh read runs one job (no schema inference, also
    right after this handle's own commit). Another handle's commit, a
    re-created table at the same path and an old version all read fresh."""
    from mcp_synaptic_spark.operators.memory import memory_exists

    path = str(tmp_path / "t")
    now = F.lit(datetime(2026, 1, 1))
    t = TxnTable.create(spark, path, _mkrows(spark, ["a", "b", "c"]))
    first = t.read()
    second, n = _jobs_of(spark, t.read)
    assert second is first and n == 0
    t.upsert(_mkrows(spark, ["b"], payload="u"))
    rows, n = _jobs_of(spark, lambda: memory_exists(t.read(), "b", now).collect())
    assert [r.key for r in rows] == ["b"] and n == 1

    TxnTable(spark, path).upsert(_mkrows(spark, ["d"], payload="other"))
    got = {r.key: r.payload for r in t.read().collect()}
    assert got == {"a": "p", "b": "u", "c": "p", "d": "other"}
    assert {r.key: r.payload for r in t.read(0).collect()} == {"a": "p", "b": "p", "c": "p"}

    t.upsert(_mkrows(spark, ["a"], payload="m"))
    mor, _ = _jobs_of(spark, t.read)
    again, n = _jobs_of(spark, t.read)
    assert again is mor and n == 0
    assert {r.key: r.payload for r in mor.collect()}["a"] == "m"

    # same path, same version number, different rows and schema
    shutil.rmtree(path)
    TxnTable.create(spark, path, spark.createDataFrame([("z", 7)], "key string, extra int"))
    assert [tuple(r) for r in t.read().collect()] == [("z", 7)]


def test_upsert_evaluates_its_batch_once(spark, tmp_path):
    """upsert's plan runs the caller's batch once per call — the write —
    and takes keys and stats from the written files, also when the batch
    repeats a key. upsert caches nothing, and a batch the caller cached
    stays cached."""
    evals = spark.sparkContext.accumulator(0)

    @F.udf("string")
    def counted(key):
        evals.add(1)
        return key

    def one_row(key):
        return _mkrows(spark, [key], payload="u").withColumn("key", counted("key"))

    big = TxnTable.create(
        spark, str(tmp_path / "r"), _mkrows(spark, [f"k{i:04d}" for i in range(400)])
    )
    flat = TxnTable.create(spark, str(tmp_path / "f"), _mkrows(spark, ["a", "b"]))
    for table, key in ((big, "k0001"), (flat, "b"), (flat, "c")):
        batch = one_row(key)
        before = evals.value
        table.upsert(batch)
        assert evals.value - before == 1, key
        assert batch.storageLevel == StorageLevel.NONE
        assert {r.key: r.payload for r in table.read().collect()}[key] == "u"
    twice = one_row("d").unionByName(one_row("d"))
    before = evals.value
    flat.upsert(twice)
    assert evals.value - before == 2  # each of the batch's two rows, once

    cached = one_row("e").cache()
    flat.upsert(cached)
    assert cached.storageLevel != StorageLevel.NONE
    cached.unpersist()


def test_range_layout_narrow_upsert_prunes(spark, tmp_path):
    """A narrow batch on a 400-row table: the base directory carries over
    by reference (same entry, same files on disk), the batch is one delta,
    and the table reads the batch's rows over the base's."""
    path = str(tmp_path / "t")
    keys = [f"k{i:04d}" for i in range(400)]
    t = TxnTable.create(spark, path, _mkrows(spark, keys))
    live0 = t._read_commit(0)["live"]
    assert len(live0) == 1 and live0[0]["n"] == 400

    v = t.upsert(_mkrows(spark, ["k0001", "k0002"], payload="u"))
    live1 = t._read_commit(v)["live"]
    assert live1[0] == live0[0] and len(live1) == 2
    assert sorted(live1[1]["keys"]) == ["k0001", "k0002"] and live1[1]["n"] == 2
    got = {r.key: r.payload for r in t.read().collect()}
    assert got["k0001"] == got["k0002"] == "u" and len(got) == 400
    assert got["k0399"] == "p"


def test_range_layout_survives_wide_upsert(spark, tmp_path):
    """A wide batch (updates spread over the whole key range, plus a key
    below and one above every existing key) is one O(batch) delta like any
    other; a narrow follow-up adds one more and shadows its key."""
    path = str(tmp_path / "t")
    keys = [f"k{i:04d}" for i in range(400)]
    t = TxnTable.create(spark, path, _mkrows(spark, keys))
    batch = ["a0000", "k0001", "k0150", "k0250", "k0350", "z9999"]
    v = t.upsert(_mkrows(spark, batch, payload="w"))
    assert [d["n"] for d in t._read_commit(v)["live"]] == [400, 6]
    got = {r.key: r.payload for r in t.read().collect()}
    assert len(got) == 402
    assert all(got[k] == "w" for k in batch) and got["k0399"] == "p"

    t.upsert(_mkrows(spark, ["k0150"], payload="n"))
    got = {r.key: r.payload for r in t.read().collect()}
    assert len(got) == 402 and got["k0150"] == "n" and got["k0250"] == "w"


def test_range_layout_delete_and_vacuum(spark, tmp_path):
    """delete_where commits the matched keys as one tombstone (no data
    directory), vacuum keeps every directory the latest version reads, and
    after compact() the superseded directories are reclaimable."""
    path = str(tmp_path / "t")
    keys = [f"k{i:04d}" for i in range(400)]
    t = TxnTable.create(spark, path, _mkrows(spark, keys))
    v, n = t.delete_where(F.col("key") < "k0100")
    assert n == 100
    [tomb] = _deltas(t, v)
    assert "dir" not in tomb and sorted(tomb["keys"]) == keys[:100]
    assert {r.key for r in t.read().collect()} == set(keys[100:])

    assert t.vacuum(keep_from_version=v) == []
    assert {r.key for r in t.read().collect()} == set(keys[100:])

    cv = t.compact()
    assert t._read_commit(cv)["live"][0]["n"] == 300
    removed = t.vacuum(keep_from_version=cv)
    assert removed  # the create-time directory is gone
    assert {r.key for r in t.read().collect()} == set(keys[100:])


def test_put_if_absent_then_upsert_falls_back_and_compact_restores(spark, tmp_path):
    """put_if_absent appends a delta; an upsert of the same keys shadows it
    (every key still exactly once), and compact() folds both deltas into
    one base directory with the same rows."""
    path = str(tmp_path / "t")
    keys = [f"k{i:04d}" for i in range(200)]
    t = TxnTable.create(spark, path, _mkrows(spark, keys))
    _, ins = t.put_if_absent(_mkrows(spark, ["k0050x", "k0150x"], payload="i"))
    assert {r.key for r in ins.collect()} == {"k0050x", "k0150x"}
    t.upsert(_mkrows(spark, ["k0050x", "k0150x"], payload="u"))
    got = {r.key: r.payload for r in t.read().collect()}
    assert got["k0050x"] == got["k0150x"] == "u" and len(got) == 202
    assert t.read().groupBy("key").count().where(F.col("count") > 1).count() == 0
    cv = t.compact()
    assert len(t._read_commit(cv)["live"]) == 1
    assert {r.key: r.payload for r in t.read().collect()} == got


def test_mor_upsert_lww_read_resolution(spark, tmp_path):
    """An upsert lands the batch as one delta dir — no base read, no
    rewrite — and read() resolves last-writer-wins by commit order: later
    deltas shadow earlier deltas shadow the base. Snapshot isolation holds
    per version."""
    path = str(tmp_path / "t")
    keys = [f"k{i:03d}" for i in range(100)]
    t = TxnTable.create(spark, path, _mkrows(spark, keys))
    live0 = t._read_commit(0)["live"]

    v1 = t.upsert(_mkrows(spark, ["k001", "k050"], payload="m1"))
    live1 = t._read_commit(v1)["live"]
    # the base dir carried by reference; exactly one delta appended
    assert live1[:1] == live0 and len(_deltas(t, v1)) == 1

    t.upsert(_mkrows(spark, ["k050", "k999x"], payload="m2"))
    got = {r.key: r.payload for r in t.read().collect()}
    assert len(got) == 101
    assert got["k001"] == "m1" and got["k050"] == "m2" and got["k999x"] == "m2"
    assert got["k000"] == "p"
    # no duplicate keys surface through the resolution
    assert t.read().groupBy("key").count().where(F.col("count") > 1).count() == 0
    # snapshots: v1 still sees m1 on k050 and no k999x
    got1 = {r.key: r.payload for r in t.read(v1).collect()}
    assert got1["k050"] == "m1" and "k999x" not in got1

    # compact folds the deltas away: one plain base, same state
    cv = t.compact()
    assert t._read_commit(cv)["live"][0].keys() == {"dir", "n"}
    assert not _deltas(t, cv)
    assert {r.key: r.payload for r in t.read().collect()} == got


def test_mor_delete_where_absorbs_deltas_first(spark, tmp_path):
    """A delete on a delta-bearing table must not resurrect shadowed rows:
    the tombstone names the key, so the base copy beneath the deleted delta
    copy stays hidden."""
    path = str(tmp_path / "t")
    t = TxnTable.create(spark, path, _mkrows(spark, ["a", "b", "c"]))
    t.upsert(_mkrows(spark, ["b"], payload="new"))
    # delete rows with payload "new": only the delta copy of b matches; a
    # naive per-dir delete would drop it and re-expose b="p"
    v, n = t.delete_where(F.col("payload") == "new")
    assert n == 1
    got = {r.key: r.payload for r in t.read().collect()}
    assert got == {"a": "p", "c": "p"}
    # and still after the deltas fold into a new base
    t.compact()
    assert {r.key: r.payload for r in t.read().collect()} == got


def test_mor_put_if_absent_sees_shadowed_keys(spark, tmp_path):
    """put_if_absent arbitration checks the resolved keys: a shadowed key is
    still taken, a key a tombstone deleted can be inserted again."""
    path = str(tmp_path / "t")
    t = TxnTable.create(spark, path, _mkrows(spark, ["a", "c"]))
    t.upsert(_mkrows(spark, ["a"], payload="v2"))
    t.delete_where(F.col("key") == "c")
    _, ins = t.put_if_absent(_mkrows(spark, ["a", "b", "c"], payload="i"))
    assert {r.key for r in ins.collect()} == {"b", "c"}
    got = {r.key: r.payload for r in t.read().collect()}
    assert got == {"a": "v2", "b": "i", "c": "i"}


def test_cow_exact_ownership_prunes_scattered_batch(spark, tmp_path):
    """A batch with the first and the last key of the table (its key range
    spans everything) writes only its two rows and updates only them."""
    path = str(tmp_path / "t")
    keys = [f"k{i:04d}" for i in range(400)]
    t = TxnTable.create(spark, path, _mkrows(spark, keys))
    v = t.upsert(_mkrows(spark, ["k0000", "k0399"], payload="x"))
    assert [d["n"] for d in t._read_commit(v)["live"]] == [400, 2]
    got = {r.key: r.payload for r in t.read().collect()}
    assert got["k0000"] == got["k0399"] == "x" and len(got) == 400


def test_cow_upsert_after_mor_absorbs_deltas(spark, tmp_path):
    """Last-writer-wins across commits is commit order, not updated_at: a
    later upsert wins even when its row carries an OLDER updated_at than
    the copy it shadows (INSERT OR REPLACE semantics)."""
    path = str(tmp_path / "t")
    t = TxnTable.create(spark, path, _mkrows(spark, ["a", "b"]))
    t.upsert(_mkrows(spark, ["a"], payload="first"))
    t.upsert(_mkrows(spark, ["b"], payload="cow1"))
    older = spark.createDataFrame(
        [("a", datetime(2020, 1, 1, tzinfo=timezone.utc), None, "second")], SCHEMA
    )
    t.upsert(older)
    got = {r.key: r.payload for r in t.read().collect()}
    assert got == {"a": "second", "b": "cow1"}


def test_upsert_batch_duplicate_keys_keep_latest_updated_at(spark, tmp_path):
    """Two copies of one key in a batch: the copy with the latest
    updated_at wins (upsert_by_key's rule), for a key the table holds and
    for a new one, in either row order."""
    def batch(key, first_newer):
        rows = [
            (key, datetime(2025, 1, 1, tzinfo=timezone.utc), None, "older"),
            (key, datetime(2025, 1, 2, tzinfo=timezone.utc), None, "newer"),
        ]
        return spark.createDataFrame(rows[::-1] if first_newer else rows, SCHEMA)

    t = TxnTable.create(spark, str(tmp_path / "t"), _mkrows(spark, ["k"]))
    for key, first_newer in (("k", False), ("new", False), ("k", True), ("new2", True)):
        v = t.upsert(batch(key, first_newer))
        assert _deltas(t, v)[-1]["keys"] == [key]
        got = {r.key: r.payload for r in t.read().collect()}
        assert got[key] == "newer", (key, first_newer)
    assert t.read().count() == 3
    # the first, duplicated write of the batch never stays on disk
    assert len([n for n in os.listdir(t.path) if n.startswith("d-")]) == 5


def test_tombstone_only_commit_changes_read_memo(spark, tmp_path):
    """A delete adds no directory, so the read() memo must not be keyed by
    directory names alone: the next read drops the deleted key, and an
    unchanged table still returns the memoized frame."""
    t = TxnTable.create(spark, str(tmp_path / "t"), _mkrows(spark, ["a", "b", "c"]))
    t.upsert(_mkrows(spark, ["b"], payload="u"))
    before = t.read()
    assert {r.key for r in before.collect()} == {"a", "b", "c"}
    t.delete_where(F.col("key") == "b")
    after = t.read()
    assert after is not before
    assert {r.key for r in after.collect()} == {"a", "c"}
    assert t.read() is after
    t.delete_where(F.col("key") == "a")
    assert {r.key for r in t.read().collect()} == {"c"}


def test_key_set_literal_escapes_keys(spark, tmp_path):
    """Keys reach the key-set literal as SQL text, so quotes, backslashes
    and non-ASCII characters must round-trip through upsert, delete and
    put_if_absent exactly, in the folded JSON array a few keys use and in
    the IN list of more."""
    odd = ["it's", "back\\slash", "\\'", "a'b\\c", "x') OR ('1'='1", "ключ", "日本語", "é", "tab\tnl\n"]
    t = TxnTable.create(spark, str(tmp_path / "t"), _mkrows(spark, odd + ["plain"]))
    t.upsert(_mkrows(spark, odd[:5], payload="u"))
    t.delete_where(F.col("key").isin(odd[3:7]))
    got = {r.key: r.payload for r in t.read().collect()}
    assert got == {"it's": "u", "back\\slash": "u", "\\'": "u", "é": "p", "tab\tnl\n": "p", "plain": "p"}
    _, ins = t.put_if_absent(_mkrows(spark, odd, payload="i"))
    assert {r.key for r in ins.collect()} == set(odd[3:7])
    assert {r.key: r.payload for r in t.read().collect()} == {**got, **{k: "i" for k in odd[3:7]}}
    assert t.read().where(F.col("key") == "x') OR ('1'='1").count() == 1
    assert "INSET" not in t.read()._jdf.queryExecution().optimizedPlan().toString().upper()
    # past _IN_SET_MIN_KEYS the same keys reach the plan as an IN list
    zs = [f"z{i}" for i in range(txn._IN_SET_MIN_KEYS)]
    t.upsert(_mkrows(spark, zs, payload="z"))
    read = t.read()
    assert "INSET" in read._jdf.queryExecution().optimizedPlan().toString().upper()
    assert {r.key: r.payload for r in read.collect()} == {
        **got, **{k: "i" for k in odd[3:7]}, **{z: "z" for z in zs}}


def test_get_plan_is_flat_in_the_delta_count(spark, tmp_path, monkeypatch):
    """A keyed get runs the same number of jobs on a compacted table, on one
    delta and on as many deltas as the compaction threshold lets live, and
    its plan has no window, broadcast or shuffle — also when a key repeats
    across deltas and when the deltas hold tombstones."""
    monkeypatch.setattr(txn, "_MAX_DELTAS", 8)
    keys = [f"k{i:03d}" for i in range(200)]

    def get(t, key):
        df = t.read().where(F.col("key") == key)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "Window" not in plan and "Exchange" not in plan, plan
        rows, jobs = _jobs_of(spark, df.collect)
        return {r.key: r.payload for r in rows}, jobs

    t = TxnTable.create(spark, str(tmp_path / "t"), _mkrows(spark, keys))
    t.read()
    assert get(t, "k001") == ({"k001": "p"}, 1)
    t.upsert(_mkrows(spark, ["k001"], payload="d1"))
    t.read()
    assert get(t, "k001") == ({"k001": "d1"}, 1)
    t.upsert(_mkrows(spark, ["k002", "k003"], payload="d2"))
    t.delete_where(F.col("key") == "k003")
    t.upsert(_mkrows(spark, ["k001"], payload="d3"))  # k001 repeats
    t.put_if_absent(_mkrows(spark, ["k003", "new"], payload="d4"))
    t.upsert(_mkrows(spark, ["k004"], payload="d5"))
    t.delete_where(F.col("key") == "k009")
    t.upsert(_mkrows(spark, ["k007"], payload="d6"))
    assert len(_deltas(t)) == 8  # at the threshold, not past it
    t.read()
    for key, want in (("k001", "d3"), ("k002", "d2"), ("k003", "d4"), ("k005", "p"), ("k007", "d6")):
        assert get(t, key) == ({key: want}, 1)
    assert get(t, "k009") == ({}, 1)
    t.upsert(_mkrows(spark, ["k006"], payload="d7"))  # the 9th delta compacts
    assert not _deltas(t)
    t.read()
    assert get(t, "k001") == ({"k001": "d3"}, 1)


def test_tombstone_crash_and_two_writers(spark, tmp_path):
    """A delete that crashes before its publish leaves the table and the
    event feed untouched (its events dir is an orphan vacuum reclaims);
    two writers deleting the same key delete it once, and a concurrent
    upsert of another key survives both."""
    from concurrent.futures import ThreadPoolExecutor

    path = str(tmp_path / "t")
    t = TxnTable.create(spark, path, _mkrows(spark, ["a", "b", "c"]))
    real = t._try_publish

    def crash(version, commit):
        raise RuntimeError("crash before publish")

    t._try_publish = crash
    with pytest.raises(RuntimeError):
        t.delete_where(F.col("key") == "a", events_of=lambda m: m.select("key"))
    t._try_publish = real
    assert t.version() == 0 and {r.key for r in t.read().collect()} == {"a", "b", "c"}
    removed = t.vacuum()
    assert len(removed) == 1 and removed[0].startswith("e-")

    def work(i):
        tbl = TxnTable(spark, path)
        if i < 2:
            return tbl.delete_where(F.col("key") == "a")[1]
        tbl.upsert(_mkrows(spark, ["d"], payload="w"))
        return 0

    with ThreadPoolExecutor(max_workers=3) as ex:
        deleted = list(ex.map(work, range(3)))
    assert sum(deleted) == 1
    assert {r.key: r.payload for r in t.read().collect()} == {"b": "p", "c": "p", "d": "w"}


def test_threshold_compaction_crash_and_two_writers(spark, tmp_path, monkeypatch):
    """Threshold compaction is an ordinary commit: a crash before its
    publish leaves the triggering write committed and the table exact (the
    half-written base is an orphan), the next winning write compacts, and
    racing writers that both pass the threshold lose no update."""
    from concurrent.futures import ThreadPoolExecutor

    monkeypatch.setattr(txn, "_MAX_DELTAS", 2)
    path = str(tmp_path / "t")
    t = TxnTable.create(spark, path, _mkrows(spark, ["seed"]))
    t.upsert(_mkrows(spark, ["a"], payload="1"))
    t.delete_where(F.col("key") == "seed")
    real = t._try_publish

    def crash_on_compact(version, commit):
        if commit["op"] == "compact":
            raise RuntimeError("crash before publish")
        return real(version, commit)

    t._try_publish = crash_on_compact
    with pytest.raises(RuntimeError):
        t.upsert(_mkrows(spark, ["b"], payload="2"))  # 3rd delta: compacts
    t._try_publish = real
    assert t.version() == 3 and len(_deltas(t)) == 3
    assert {r.key: r.payload for r in t.read().collect()} == {"a": "1", "b": "2"}
    assert len(t.vacuum()) == 1  # the compaction's orphan base

    assert t.upsert(_mkrows(spark, ["c"], payload="3")) == 4
    assert t.version() == 5 and not _deltas(t)
    assert {r.key: r.payload for r in t.read().collect()} == {"a": "1", "b": "2", "c": "3"}

    def write(i):
        TxnTable(spark, path).upsert(_mkrows(spark, [f"k{i}"], payload=str(i)))

    with ThreadPoolExecutor(max_workers=3) as ex:
        list(ex.map(write, range(6)))
    got = {r.key: r.payload for r in t.read().collect()}
    assert got == {"a": "1", "b": "2", "c": "3", **{f"k{i}": str(i) for i in range(6)}}
    assert len(_deltas(t)) <= 2
    ops = [t._read_commit(v)["op"] for v in range(6, t.version() + 1)]
    assert ops.count("upsert") == 6 and "compact" in ops


def test_drain_events_probes_do_not_grow_with_history(spark, tmp_path, monkeypatch):
    """drain_events finds its work from one listing of the log: on a table
    whose log was cleaned to a checkpoint, the number of filesystem probes
    is the same at version 1,000 as at version 100,000."""
    import builtins

    events_dir = str(tmp_path / "events")

    def cleaned_table(version):
        path = str(tmp_path / f"t{version}")
        t = TxnTable.create(spark, path, _mkrows(spark, ["a"]))
        log = os.path.join(path, "_txn")
        commit = dict(t._read_commit(0), version=version)
        for name in (f"{version:06d}.json", f"{version:06d}.checkpoint.json"):
            with open(os.path.join(log, name), "w") as f:
                json.dump(commit, f)
        with open(os.path.join(log, "_last_checkpoint"), "w") as f:
            json.dump({"version": version}, f)
        assert t.clean_log() == [0] and t.version() == version
        return t

    def probes(t):
        calls = []

        def counted(mod, name):
            fn = getattr(mod, name)

            def wrapper(*a, **k):
                calls.append(name)
                return fn(*a, **k)

            monkeypatch.setattr(mod, name, wrapper)

        for mod, name in ((os.path, "exists"), (os.path, "isdir"), (os, "listdir"),
                          (os, "stat"), (os, "link"), (builtins, "open")):
            counted(mod, name)
        try:
            drain_events(t, events_dir)
        finally:
            monkeypatch.undo()
        return len(calls)

    short, long = cleaned_table(1_000), cleaned_table(100_000)
    assert probes(short) == probes(long) < 50


def test_write_past_key_bound_folds_into_base(spark, tmp_path, monkeypatch):
    """Writes of about 50k keys on a 50k-row table stay O(bound) on the
    driver and in the log: an upsert, a put_if_absent and a delete past the
    key bound each fold into one rewrite of the base, so no commit lists
    more keys than the bound, no commit file grows with the batch, and the
    frame each rewrite writes never carries a per-key literal. Last-writer-
    wins, first-writer-wins and the deleted count stay exact."""
    n = 50_000
    written = []
    real_write = TxnTable._write_data_dir

    def spy(self, df, **kw):
        written.append(len(df._jdf.queryExecution().optimizedPlan().toString()))
        return real_write(self, df, **kw)

    monkeypatch.setattr(TxnTable, "_write_data_dir", spy)
    keys = F.format_string("k%06d", F.col("id"))
    ts = F.lit(datetime(2025, 1, 1, tzinfo=timezone.utc))
    table = spark.range(n).select(keys.alias("key"), ts.alias("updated_at"),
                                  F.lit(None).cast("timestamp").alias("expires_at"),
                                  F.lit("p").alias("payload"))
    t = TxnTable.create(spark, str(tmp_path / "t"), table)
    t.upsert(_mkrows(spark, ["k000001"], payload="small"))  # one listed delta
    # 25k existing keys and 25k new ones, one of them twice: the later copy wins
    batch = spark.range(n // 2, n // 2 + n).select(
        keys.alias("key"), ts.alias("updated_at"),
        F.lit(None).cast("timestamp").alias("expires_at"), F.lit("u").alias("payload"))
    late = _rows(spark, ("k070000", None, "late")).withColumn(
        "updated_at", F.lit(datetime(2025, 1, 2, tzinfo=timezone.utc)))
    v = t.upsert(batch.unionByName(late))
    assert _deltas(t, v) == [] and len(t._read_commit(v)["live"]) == 1
    got = t.read()
    assert got.count() == n + n // 2
    assert {r.key: r.payload for r in got.where(F.col("key").isin(
        "k000001", "k024999", "k025000", "k070000", "k074999")).collect()} == {
        "k000001": "small", "k024999": "p", "k025000": "u", "k070000": "late", "k074999": "u"}

    events = []
    vd, n_del = t.delete_where(F.col("key") >= "k040000", events_of=lambda m: events.append(1) or m.select("key"))
    assert n_del == 35_000 and events == [1] and _deltas(t, vd) == []
    assert t.read().count() == 40_000
    assert spark.read.parquet(os.path.join(t.path, t._read_commit(vd)["events"])).count() == 35_000

    vi, ins = t.put_if_absent(spark.range(30_000, 90_000).select(
        keys.alias("key"), ts.alias("updated_at"),
        F.lit(None).cast("timestamp").alias("expires_at"), F.lit("i").alias("payload")))
    assert ins.count() == 50_000 and _deltas(t, vi) == []
    assert t.read().count() == 90_000
    assert t.read().where(F.col("payload") == "i").count() == 50_000

    bound = txn._key_bound(t._read_commit(vi)["live"])
    for version in range(vi + 1):
        commit = t._read_commit(version)
        assert sum(len(d.get("keys", [])) for d in commit["live"]) <= bound
        assert os.path.getsize(txn._commit_path(t.path, version)) < 4_096
    assert max(written) < 20_000, written  # a 50k-key literal would be ~500k chars


def test_key_bound_grows_with_the_base(spark, tmp_path, monkeypatch):
    """The delta key bound is _MAX_DELTA_KEYS until the base holds more
    than _BASE_ROWS_PER_KEY rows per key, then one key per that many base
    rows; tombstones and deltas never count as base."""
    base = {"dir": "d-b", "n": 10_000_000}
    assert txn._key_bound([{"dir": "d-b", "n": 20_000}]) == txn._MAX_DELTA_KEYS
    assert txn._key_bound([base]) == 10_000_000 // txn._BASE_ROWS_PER_KEY
    assert txn._key_bound([base, {"keys": ["a"] * 5}, {"dir": "d-x", "n": 10**9, "keys": []}]) == 10_000

    monkeypatch.setattr(txn, "_MAX_DELTA_KEYS", 2)
    monkeypatch.setattr(txn, "_BASE_ROWS_PER_KEY", 10)
    t = TxnTable.create(spark, str(tmp_path / "t"), _mkrows(spark, [f"b{i:03d}" for i in range(100)]))
    for i in range(3):  # 9 keys live: within the bound of 100 // 10
        t.upsert(_mkrows(spark, [f"n{i}{j}" for j in range(3)], payload=str(i)))
    assert len(_deltas(t)) == 3
    t.upsert(_mkrows(spark, ["n30", "n31"], payload="3"))  # 11 keys: compacts
    assert not _deltas(t) and t.read().count() == 111
    v = t.upsert(_mkrows(spark, [f"w{i:02d}" for i in range(12)], payload="w"))  # past 111 // 10
    assert not _deltas(t, v) and t.read().count() == 123


def test_delta_without_keys_is_refused(spark, tmp_path):
    """A delta entry that records no keys (the shape an older merge-on-read
    upsert committed) cannot be resolved from the commit: read() fails with
    a clear error instead of returning shadowed copies as live rows."""
    t = TxnTable.create(spark, str(tmp_path / "t"), _mkrows(spark, ["a"]))
    v = t.upsert(_mkrows(spark, ["a"], payload="new"))
    commit = t._read_commit(v)
    for d in commit["live"]:
        if "keys" in d:
            del d["keys"]
            d["delta"] = True
    with open(txn._commit_path(t.path, v + 1), "w") as f:
        json.dump(dict(commit, version=v + 1), f)
    with pytest.raises(ValueError, match="record no keys"):
        t.read()
    assert [r.payload for r in t.read(v).collect()] == ["new"]
