"""The benchmark's own tests: seeded inputs and the event-log fold.

    python3 -m pytest perfbench -q

No Spark session is needed.
"""

from __future__ import annotations

import json
import os
import sys

import pyarrow as pa
import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import gen  # noqa: E402
import tracing  # noqa: E402


@pytest.mark.parametrize("workload", ["memory_oltp", "rag_retrieve"])
def test_same_seed_same_ops_other_seed_other_ops(workload):
    assert gen.op_bytes(workload, 7) == gen.op_bytes(workload, 7)
    assert gen.op_bytes(workload, 7) != gen.op_bytes(workload, 8)


def test_tables_and_batch_are_pure_functions_of_the_seed(tmp_path):
    names = ("events", "documents", "embeddings")
    a = gen.write_tables(3, str(tmp_path / "a"), names)
    b = gen.write_tables(3, str(tmp_path / "b"), names)
    for name in names:
        assert a[name] == b[name]
        assert (tmp_path / "a" / f"{name}.parquet").read_bytes() == (tmp_path / "b" / f"{name}.parquet").read_bytes()
    assert gen.ingest_batch(3) == gen.ingest_batch(3)
    assert gen.ingest_batch(3) != gen.ingest_batch(4)


@pytest.mark.parametrize("workload", ["memory_oltp", "rag_retrieve"])
def test_classes_are_interleaved_in_every_block(workload):
    mix = gen.MIXES[workload]
    size = sum(mix.values())
    names = [op["op"] for op in gen.op_list(workload, 5)]
    for start in range(0, 5 * size, size):
        block = names[start:start + size]
        assert {n: block.count(n) for n in mix} == mix
    # shuffled, not run in per-class runs
    assert names[:size] != sorted(names[:size])


def test_memory_writes_find_the_same_work_in_every_block():
    seed = 5
    ops = gen.op_list("memory_oltp", seed)
    ev = gen.events(seed)
    after_now = {f"mem-{i}" for i in range(gen.N_EVENTS) if ev["ts"][i] > gen.np.datetime64(gen.NOW, "us")}
    deleted = set()
    pending = 0  # expired adds since the last sweep
    for op in ops:
        if op["op"] in ("touch", "update", "delete"):
            assert op["key"] in after_now and op["key"] not in deleted
            if op["op"] == "delete":
                deleted.add(op["key"])
        elif op["op"] == "add":
            assert op["age_s"] > op["ttl_s"] > 0
            pending += 1
        elif op["op"] == "sweep":
            assert pending == 1
            pending = 0
    size = sum(gen.MIXES["memory_oltp"].values())
    for b in range(0, len(ops), size):
        assert tuple(op["op"] for op in ops[b:b + size] if op["op"] in gen.WRITE_ORDER) == gen.WRITE_ORDER
    reads = [op["key"] for op in ops if op["op"] in ("get", "exists")]
    absent = [i for i, k in enumerate(reads) if k.startswith("mem-absent-")]
    assert absent == list(range(gen.ABSENT_EVERY - 1, len(reads), gen.ABSENT_EVERY))


def _job(job_id, group, start, end, stages):
    return [
        {"Event": "SparkListenerJobStart", "Job ID": job_id, "Submission Time": start,
         "Stage IDs": stages, "Properties": {"spark.jobGroup.id": group}},
        {"Event": "SparkListenerJobEnd", "Job ID": job_id, "Completion Time": end},
    ]


def _task(stage, cpu_ns, gc=0, read=0):
    return {"Event": "SparkListenerTaskEnd", "Stage ID": stage, "Stage Attempt ID": 0,
            "Task Metrics": {"Executor CPU Time": cpu_ns, "JVM GC Time": gc,
                             "Input Metrics": {"Bytes Read": read},
                             "Shuffle Write Metrics": {"Shuffle Bytes Written": 5},
                             "Memory Bytes Spilled": 0, "Disk Bytes Spilled": 0}}


def _write_lines(path, events, compression=None):
    data = "".join(json.dumps(e) + "\n" for e in events).encode()
    if compression:
        with pa.output_stream(str(path), compression=compression) as f:
            f.write(data)
    else:
        path.write_bytes(data)


@pytest.mark.parametrize("compression", [None, "zstd"])
def test_fold_reads_every_rolling_part_in_order(tmp_path, compression):
    app = tmp_path / "eventlog_v2_local-1"
    app.mkdir()
    suffix = ".zstd" if compression else ""
    # op0: two overlapping jobs in part 1; op1: one job split across parts
    part1 = _job(0, "op0", 1000, 1100, [0]) + _job(1, "op0", 1050, 1200, [1]) + [_task(0, 2e6, read=10), _task(1, 3e6)]
    part1 += [{"Event": "SparkListenerJobStart", "Job ID": 2, "Submission Time": 1400,
               "Stage IDs": [2], "Properties": {"spark.jobGroup.id": "op1"}}]
    part2 = [_task(2, 4e6, gc=7), {"Event": "SparkListenerJobEnd", "Job ID": 2, "Completion Time": 1500}]
    # part 10 sorts before part 2 as text: the fold must order numerically
    part10 = _job(3, "op1", 1550, 1560, [3]) + [_task(3, 1e6)]
    _write_lines(app / f"events_1_local-1{suffix}", part1, compression)
    _write_lines(app / f"events_2_local-1{suffix}", part2, compression)
    _write_lines(app / f"events_10_local-1{suffix}", part10, compression)
    assert [os.path.basename(p).split("_")[1] for p in tracing.event_log_files(str(tmp_path))] == ["1", "2", "10"]

    trace = {
        "spans": [
            {"name": "op", "op": "op0", "start": 900.0, "end": 1300.0},
            {"name": "lib.fn.exec", "op": "op0", "start": 1000.0, "end": 1250.0},
            {"name": "op", "op": "op1", "start": 1300.0, "end": 1600.0},
            {"name": "lib.fn.exec", "op": "op1", "start": 1350.0, "end": 1590.0},
            # warm-up and reference calls are no timed op's: left out
            {"name": "lib.fn.exec", "op": "setup:warmup", "start": 0.0, "end": 5000.0},
            {"name": "lib.fn.exec", "op": "checks", "start": 6000.0, "end": 9000.0},
            # a measured set-up phase keeps its spans
            {"name": "lib.ingest.call", "op": "setup:ingest", "start": 9000.0, "end": 9040.0},
        ],
        "counts": {"lib.rows": [1.0, 3.0]},
    }
    out = tracing.fold(trace, str(tmp_path), {"op0": "read", "op1": "read"})
    # op0: jobs cover 1000-1200 of a 400 ms op; op1: 1400-1500 and 1550-1560
    assert out["spark.read.jobs"] == 2
    assert out["spark.read.in_jobs_ms"] == (200 + 110) / 2
    assert out["spark.read.driver_gap_ms"] == (200 + 190) / 2
    assert out["spark.read.executor_cpu_ms"] == 5.0
    assert out["spark.read.tasks"] == 2
    assert out["op_ms"] == 350.0
    # exec self time: op0 250 - 200 in jobs = 50; op1 240 - 110 = 130
    assert out["lib.fn.exec.self_ms"] == 90.0
    assert out["lib.fn.exec_ms"] == (250 + 240) / 2
    assert out["lib.ingest.call_ms"] == 40.0
    assert out["lib.rows"] == 2.0


def test_union_of_intervals():
    assert tracing._union_ms([(0, 10), (5, 15), (20, 25)]) == 20
    assert tracing._union_ms([]) == 0
