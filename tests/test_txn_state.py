"""TxnTable (state/txn.py): the Delta-protocol ACID backend for the memory
store — commit atomicity, optimistic concurrency (no lost updates),
copy-on-write pruning, crash/orphan behavior, snapshot isolation, and the
transactional expiry sweep twin (no rename dance, exactly-once events)."""

from __future__ import annotations

import json
import os
import shutil
import uuid
from datetime import datetime, timezone

from pyspark import StorageLevel
from pyspark.sql import functions as F

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
    """Copy-on-write pruning: an upsert whose key range misses a directory
    carries that directory over by reference (same dir name stays live)."""
    path = str(tmp_path / "t")
    t = TxnTable.create(spark, path, _rows(spark, ("a1", None, "1"), ("a2", None, "2")))
    t.upsert(_rows(spark, ("z1", None, "26")))  # disjoint range → new dir
    live_before = {d["dir"] for d in t._read_commit(t.version())["live"]}
    assert len(live_before) == 2

    t.upsert(_rows(spark, ("z1", None, "26x")))  # hits only the z-dir range
    live_after = t._read_commit(t.version())["live"]
    carried = {d["dir"] for d in live_after} & live_before
    # the a-range dir survived untouched; the z-range dir was rewritten
    assert len(carried) == 1
    a_dir = next(d for d in live_after if d["dir"] in carried)
    assert a_dir["hi"] < "z"
    got = {r.key: r.payload for r in t.read().collect()}
    assert got == {"a1": "1", "a2": "2", "z1": "26x"}
    assert t.read().count() == 3  # the rewrite didn't duplicate z1


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
    removed = t.vacuum(keep_from_version=t.version())
    assert len(removed) == 2
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
def test_txn_random_op_sequences_match_dict_model(spark, tmp_path):
    """Model-based check: random interleaved upsert/delete sequences applied
    to a TxnTable must match a plain dict model applying the same ops — the
    commit log, COW pruning, and range stats may not change keyed-store
    semantics. Deterministic seed; ~40 commits across 4 scenarios."""
    import random

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
            if rng.random() < 0.7:
                batch_keys = rng.sample(keyspace, rng.randint(1, 5))
                batch = {k: f"v{step + 1}-{k}" for k in batch_keys}
                t.upsert(_rows(spark, *[(k, None, v) for k, v in batch.items()]))
                model.update(batch)
            else:
                victim = rng.choice(keyspace)
                t.delete_where(F.col("key") == victim)
                model.pop(victim, None)
                if not model:
                    break  # table read() needs >=0 rows; empty dir is fine but stop early
            got = {r.key: r.payload for r in t.read().collect()}
            assert got == model, f"scenario {scenario} diverged at step {step}"
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


def test_range_layout_narrow_upsert_prunes(spark, tmp_path):
    """r15 (VERDICT r14 #4 / note 136): create() range-splits the table into
    per-key-range directories, and a NARROW upsert batch rewrites only the
    overlapping range dirs — untouched range dirs carry over by reference
    (same entry, same files on disk). The old single-dir layout rewrote the
    whole table on every upsert."""
    path = str(tmp_path / "t")
    keys = [f"k{i:04d}" for i in range(400)]
    t = TxnTable.create(spark, path, _mkrows(spark, keys), n_dirs=4)
    live0 = t._read_commit(0)["live"]
    assert len(live0) == 4
    assert t._disjoint_ranges(live0)
    assert sum(d["n"] for d in live0) == 400
    # all entries are subdirs of one container
    assert all("/" in d["dir"] for d in live0)

    # narrow batch: keys entirely inside ONE dir's range
    v = t.upsert(_mkrows(spark, ["k0001", "k0002"], payload="u"))
    live1 = t._read_commit(v)["live"]
    assert len(live1) == 4
    carried = [d for d in live1 if d in live0]
    assert len(carried) == 3  # three dirs carried by reference, one rewritten
    got = {r.key: r.payload for r in t.read().collect()}
    assert got["k0001"] == got["k0002"] == "u" and len(got) == 400
    assert got["k0399"] == "p"


def test_range_layout_survives_wide_upsert(spark, tmp_path):
    """A WIDE batch (touching every range) rewrites per-dir slices, so the
    range structure — and the next narrow batch's pruning — survives. The
    below-every-range insert is a pure-gap slice: it appends as its own
    new dir instead of forcing a neighbor rewrite; the above-every-range
    insert shares a slice with an in-range update and rides that dir's
    rewrite, extending its range."""
    path = str(tmp_path / "t")
    keys = [f"k{i:04d}" for i in range(400)]
    t = TxnTable.create(spark, path, _mkrows(spark, keys), n_dirs=4)
    # wide: updates in every range + a below-all key + an above-all key
    batch = ["a0000", "k0001", "k0150", "k0250", "k0350", "z9999"]
    v = t.upsert(_mkrows(spark, batch, payload="w"))
    live = t._read_commit(v)["live"]
    assert len(live) == 5 and t._disjoint_ranges(live)
    assert sum(d["n"] for d in live) == 402
    got = {r.key: r.payload for r in t.read().collect()}
    assert all(got[k] == "w" for k in batch) and got["k0399"] == "p"

    # the layout still prunes: a narrow follow-up carries 4 of 5 dirs
    v2 = t.upsert(_mkrows(spark, ["k0200"], payload="n"))
    live2 = t._read_commit(v2)["live"]
    assert len([d for d in live2 if d in live]) == 4


def test_range_layout_delete_and_vacuum(spark, tmp_path):
    """delete_where rewrites hit range dirs per-dir (layout survives), and
    vacuum only reclaims containers with NO live subdir reference."""
    path = str(tmp_path / "t")
    keys = [f"k{i:04d}" for i in range(400)]
    t = TxnTable.create(spark, path, _mkrows(spark, keys), n_dirs=4)
    v, n = t.delete_where(F.col("key") < "k0100")
    assert n == 100
    live = t._read_commit(v)["live"]
    # the emptied first range drops out; the other three survive per-dir
    assert sum(d["n"] for d in live) == 300
    assert {r.key for r in t.read().collect()} == set(keys[100:])

    # vacuum at the latest version keeps every container a live subdir
    # references; the superseded create-container is NOT removed while the
    # delete's carry entries still point into it
    removed = t.vacuum(keep_from_version=v)
    assert {r.key for r in t.read().collect()} == set(keys[100:])

    # after compact (fresh container), the old containers are reclaimable
    cv = t.compact()
    removed = t.vacuum(keep_from_version=cv)
    assert removed  # old containers gone
    assert {r.key for r in t.read().collect()} == set(keys[100:])


def test_put_if_absent_then_upsert_falls_back_and_compact_restores(spark, tmp_path):
    """put_if_absent appends an arbitrary-range dir; an upsert overlapping
    BOTH that dir and a range dir must detect the non-disjoint layout and
    fall back to merge-into-one (correctness over pruning). compact()
    re-splits to the auto range layout."""
    path = str(tmp_path / "t")
    keys = [f"k{i:04d}" for i in range(200)]
    t = TxnTable.create(spark, path, _mkrows(spark, keys), n_dirs=2)
    # spans both ranges -> appended dir overlaps both range dirs
    _, ins = t.put_if_absent(_mkrows(spark, ["k0050x", "k0150x"], payload="i"))
    assert {r.key for r in ins.collect()} == {"k0050x", "k0150x"}
    v = t.upsert(_mkrows(spark, ["k0050x", "k0150x"], payload="u"))
    got = {r.key: r.payload for r in t.read().collect()}
    assert got["k0050x"] == got["k0150x"] == "u" and len(got) == 202
    # every key exactly once despite the fallback merge
    assert t.read().groupBy("key").count().where(F.col("count") > 1).count() == 0
    cv = t.compact()
    assert t._disjoint_ranges(t._read_commit(cv)["live"])
    assert {r.key for r in t.read().collect()} == set(keys) | {"k0050x", "k0150x"}


def test_mor_upsert_lww_read_resolution(spark, tmp_path):
    """r15: upsert(mode="mor") lands the batch as one delta dir — no base
    read, no rewrite — and read() resolves last-writer-wins by commit
    sequence: later deltas shadow earlier deltas shadow the CoW base.
    Snapshot isolation holds per version."""
    path = str(tmp_path / "t")
    keys = [f"k{i:03d}" for i in range(100)]
    t = TxnTable.create(spark, path, _mkrows(spark, keys), n_dirs=2)
    live0 = t._read_commit(0)["live"]

    v1 = t.upsert(_mkrows(spark, ["k001", "k050"], payload="m1"), mode="mor")
    live1 = t._read_commit(v1)["live"]
    # every base dir carried by reference; exactly one delta appended
    assert [d for d in live1 if d in live0] == live0
    assert sum(1 for d in live1 if d.get("delta")) == 1

    v2 = t.upsert(_mkrows(spark, ["k050", "k999x"], payload="m2"), mode="mor")
    got = {r.key: r.payload for r in t.read().collect()}
    assert len(got) == 101
    assert got["k001"] == "m1" and got["k050"] == "m2" and got["k999x"] == "m2"
    assert got["k000"] == "p"
    # no duplicate keys surface through the resolution window
    assert t.read().groupBy("key").count().where(F.col("count") > 1).count() == 0
    # snapshots: v1 still sees m1 on k050 and no k999x
    got1 = {r.key: r.payload for r in t.read(v1).collect()}
    assert got1["k050"] == "m1" and "k999x" not in got1

    # compact folds the deltas away: window-free reads, same state
    cv = t.compact()
    live_c = t._read_commit(cv)["live"]
    assert not any(d.get("delta") for d in live_c)
    assert {r.key: r.payload for r in t.read().collect()} == got


def test_mor_delete_where_absorbs_deltas_first(spark, tmp_path):
    """A delete on a delta-bearing table must not resurrect shadowed rows:
    delete_where auto-compacts first, then deletes — the matching NEWEST
    values disappear and the old CoW copies do not come back."""
    path = str(tmp_path / "t")
    t = TxnTable.create(spark, path, _mkrows(spark, ["a", "b", "c"]))
    t.upsert(_mkrows(spark, ["b"], payload="new"), mode="mor")
    # delete rows with payload "new": only the delta copy of b matches; a
    # naive per-dir delete would drop it and re-expose b="p"
    v, n = t.delete_where(F.col("payload") == "new")
    assert n == 1
    got = {r.key: r.payload for r in t.read().collect()}
    assert got == {"a": "p", "c": "p"}


def test_mor_put_if_absent_sees_shadowed_keys(spark, tmp_path):
    """put_if_absent arbitration counts a key as taken if ANY copy exists —
    shadowed or not."""
    path = str(tmp_path / "t")
    t = TxnTable.create(spark, path, _mkrows(spark, ["a"]))
    t.upsert(_mkrows(spark, ["a"], payload="v2"), mode="mor")
    _, ins = t.put_if_absent(_mkrows(spark, ["a", "b"], payload="i"))
    assert {r.key for r in ins.collect()} == {"b"}
    got = {r.key: r.payload for r in t.read().collect()}
    assert got == {"a": "v2", "b": "i"}


def test_cow_exact_ownership_prunes_scattered_batch(spark, tmp_path):
    """r15: CoW hit detection is exact key ownership, not [min, max]
    interval overlap — a batch with two extreme keys (whose interval spans
    the whole table) rewrites only the two dirs that own them."""
    path = str(tmp_path / "t")
    keys = [f"k{i:04d}" for i in range(400)]
    t = TxnTable.create(spark, path, _mkrows(spark, keys), n_dirs=4)
    live0 = t._read_commit(0)["live"]
    # first key and last key: interval covers all four dirs, ownership two
    v = t.upsert(_mkrows(spark, ["k0000", "k0399"], payload="x"))
    live1 = t._read_commit(v)["live"]
    assert len([d for d in live1 if d in live0]) == 2
    got = {r.key: r.payload for r in t.read().collect()}
    assert got["k0000"] == got["k0399"] == "x" and len(got) == 400


def test_cow_upsert_after_mor_absorbs_deltas(spark, tmp_path):
    """A CoW upsert on a delta-bearing table absorbs the deltas first
    (commit-order LWW is exact even when the shadowed delta row carries
    the same updated_at), then proceeds on pure-CoW dirs."""
    path = str(tmp_path / "t")
    t = TxnTable.create(spark, path, _mkrows(spark, ["a", "b"]))
    t.upsert(_mkrows(spark, ["a"], payload="mor1"), mode="mor")
    v = t.upsert(_mkrows(spark, ["b"], payload="cow1"))
    live = t._read_commit(v)["live"]
    assert not any(d.get("delta") for d in live)
    got = {r.key: r.payload for r in t.read().collect()}
    assert got == {"a": "mor1", "b": "cow1"}


def test_mor_read_uses_broadcast_fast_path(spark, tmp_path):
    """The O(delta) resolution: under the broadcast bound the read plan
    screens the base with a broadcast anti-join (the big side never
    shuffles into the resolution window)."""
    path = str(tmp_path / "t")
    t = TxnTable.create(spark, path, _mkrows(spark, [f"k{i}" for i in range(50)]))
    t.upsert(_mkrows(spark, ["k1"], payload="m"), mode="mor")
    plan = t.read()._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan


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

    t.upsert(_mkrows(spark, ["a"], payload="m"), mode="mor")
    mor, _ = _jobs_of(spark, t.read)
    again, n = _jobs_of(spark, t.read)
    assert again is mor and n == 0
    assert {r.key: r.payload for r in mor.collect()}["a"] == "m"

    # same path, same version number, different rows and schema
    shutil.rmtree(path)
    TxnTable.create(spark, path, spark.createDataFrame([("z", 7)], "key string, extra int"))
    assert [tuple(r) for r in t.read().collect()] == [("z", 7)]


def test_upsert_evaluates_its_batch_once(spark, tmp_path):
    """upsert persists the caller's batch, so its plan runs once per call —
    not once each for the lo/hi agg, the routing groupBy and the write —
    on the range layout, a single-directory table and merge-on-read. A
    batch the caller cached stays cached; upsert's own cache is dropped."""
    evals = spark.sparkContext.accumulator(0)

    @F.udf("string")
    def counted(key):
        evals.add(1)
        return key

    def one_row(key):
        return _mkrows(spark, [key], payload="u").withColumn("key", counted("key"))

    ranged = TxnTable.create(
        spark, str(tmp_path / "r"), _mkrows(spark, [f"k{i:04d}" for i in range(400)]), n_dirs=4
    )
    flat = TxnTable.create(spark, str(tmp_path / "f"), _mkrows(spark, ["a", "b"]))
    for table, key, mode in ((ranged, "k0001", "cow"), (flat, "b", "cow"), (flat, "c", "mor")):
        batch = one_row(key)
        before = evals.value
        table.upsert(batch, mode=mode)
        assert evals.value - before == 1, (key, mode)
        assert batch.storageLevel == StorageLevel.NONE
        assert {r.key: r.payload for r in table.read().collect()}[key] == "u"

    cached = one_row("e").cache()
    flat.upsert(cached)
    assert cached.storageLevel != StorageLevel.NONE
    cached.unpersist()
