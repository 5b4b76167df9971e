"""Benchmark entry point: one seeded workload, one closed-loop client.

    python3 perfbench/run.py --workload memory_oltp --seed 1 --seconds 10 --trace 0

Run from the repository root. It builds all state in a fresh directory
under ``.perfbench_state/`` (removed at exit), pins the Spark session to
this machine's cores, runs set-up, then issues one op at a time, checking
every answer, until ``--seconds`` of op time have passed and the current
block of the op mix is complete. The last line of standard output is one
JSON object:

- ``--trace 0``: the end-to-end metrics (END_TO_END below);
- ``--trace 1``: the same op sequence with Spark's event log switched on
  and a span around every engine call; the per-layer metrics (PER_LAYER).

A line starting with ``# diag`` before it carries diagnostics that are not
metrics: CPU steal, the filesystem holding the state, sample counts.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import signal
import statistics
import sys
import time
import traceback

_T0 = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402
import procstat  # noqa: E402
from tracing import SPARK_FIELDS, Tracer, fold  # noqa: E402

END_TO_END = (
    "setup_s", "ops_per_s", "cpu_ms_per_op", "read_p50_ms", "scan_p50_ms", "stored_bytes_per_user_byte",
)
CLASSES = ("read", "scan", "write", "keyword", "hybrid")
SETUP_PHASES = (
    "session.get_spark", "sources.load", "state.txn.create", "operators.similarity.ivf_index_write",
    "operators.bm25_index.bm25_index_write", "operators.dedup.dedup_index_write", "ingest", "warmup",
)
LAYERS = (
    # memory_oltp
    "state.txn.read.call_ms", "state.txn.read.call.self_ms",
    "operators.memory.memory_list.exec_ms", "operators.memory.memory_exists.exec_ms",
    "operators.memory.memory_list_filtered.exec_ms", "operators.memory.memory_stats.exec_ms",
    "state.txn.upsert.call_ms", "state.txn.upsert.call.self_ms", "state.txn.delete_where.call_ms",
    "state.txn.upsert.bytes_written", "state.txn.upsert.files_written",
    "streaming.expiry.sweep_once_txn.call_ms", "state.txn.live_dirs",
    # rag_retrieve
    "bench.query_frame_ms", "operators.similarity.ivf_topk.call_ms", "operators.similarity.ivf_topk.exec_ms",
    "operators.similarity.ivf_topk.rows_scored_per_result",
    "operators.rag.rag_search.call_ms", "operators.rag.rag_search.exec_ms",
    "operators.bm25_index.bm25_search_indexed.call_ms", "operators.bm25_index.bm25_search_indexed.exec_ms",
    "operators.retrieval.hybrid_search_rrf.call_ms", "operators.retrieval.assemble_context.call_ms",
    "operators.retrieval.assemble_context.exec_ms", "recall_at_10",
    # rag_retrieve set-up: the ingest pipeline and the indexes it grew
    "sources.embedders.hash_embedder.call_ms", "operators.dedup.dedup_incremental.exec_ms",
    "operators.dedup.dedup_index_append_txn.call_ms", "operators.similarity.ivf_index_append.call_ms",
    "operators.bm25_index.bm25_index_append.call_ms", "ingest.admitted_per_attempted",
    "ingest.near_dup_recall", "ingest.ryw_ann_hit", "operators.similarity.ivf.index_files",
    "operators.bm25_index.index_files", "operators.bm25_index.append_generations", "operators.dedup.index_files",
)
PER_LAYER = (
    tuple(f"{p}_s" for p in SETUP_PHASES)
    + LAYERS
    + tuple(f"class.{c}.{s}" for c in CLASSES for s in ("p50_ms", "n"))
    + tuple(f"spark.{c}.{f}" for c in CLASSES for f in SPARK_FIELDS)
    + ("process.peak_rss_mb", "trace.ops_per_s", "trace.cpu_ms_per_op")
)
UNITS = {
    "setup_s": "s", "ops_per_s": "1/s", "cpu_ms_per_op": "ms", "process.peak_rss_mb": "MB",
    "stored_bytes_per_user_byte": "ratio", "recall_at_10": "ratio", "trace.ops_per_s": "1/s", "trace.cpu_ms_per_op": "ms",
}


def unit_of(name: str) -> str:
    if name in UNITS:
        return UNITS[name]
    for suffix, unit in (("_ms", "ms"), ("_s", "s"), ("_bytes", "bytes"), ("bytes_written", "bytes")):
        if name.endswith(suffix):
            return unit
    if name.startswith("ingest.") or name.endswith("_per_result"):
        return "ratio"
    return "count"


def pin_environment(state: str, trace: bool) -> None:
    """Pin everything the engine reads from the environment, before Spark
    starts: cores, memory, scratch and temp dirs, time zone, event log."""
    for sub in ("spark-local", "tmp", "eventlog"):
        os.makedirs(os.path.join(state, sub), exist_ok=True)
    tmp = os.path.join(state, "tmp")
    os.environ.update(
        SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))),
        SPARK_LOCAL_DIRS=os.path.join(state, "spark-local"),
        SPARK_DRIVER_MEMORY="2g",
        TZ="UTC",
        TMPDIR=tmp,
        PYSPARK_PYTHON=sys.executable,
        # the short-lived launcher JVM that spark-submit starts first
        SPARK_LAUNCHER_OPTS=f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
        PYTHONPATH=os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
    )
    time.tzset()
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(state, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    }
    if trace:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.join(state, "eventlog"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "true",
            "spark.eventLog.rolling.maxFileSize": "10m",
        })
    args = [a for k, v in conf.items() for a in ("--conf", f"{k}={v}")]
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join(args + ["pyspark-shell"])


def p50(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


def class_p50(by_kind: dict[str, list[float]], cls: str) -> float:
    """A class's p50: the mean of its op kinds' medians. A median pooled
    over two kinds of different cost lands on the boundary between them and
    flips with a single op; each kind's own median does not."""
    meds = [p50(v) for name, v in by_kind.items() if gen.CLASS_OF[name] == cls and v]
    return statistics.mean(meds) if meds else 0.0


def stop_spark(spark) -> None:
    """Stop the session and the JVM, and wait until every process this run
    started has ended."""
    from pyspark import SparkContext

    kids = procstat.tree_pids()[1:]
    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except Exception:
                proc.kill()
                proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None
    procstat.stop_descendants(kids)


def run(workload: str, seed: int, seconds: float, trace: bool, state: str) -> dict:
    pin_environment(state, trace)
    sys.path.insert(0, ROOT)
    try:
        from mcp_synaptic_spark.session import get_spark
    except ImportError as e:
        raise SystemExit(f"perfbench: cannot import the engine from {ROOT}: {e}")
    from workloads import WORKLOADS

    t = time.perf_counter()
    spark = get_spark(app_name=f"perfbench-{workload}")
    session_s = time.perf_counter() - t
    spark.sparkContext.setLogLevel("ERROR")
    try:
        tracer = Tracer(trace, spark)
        wl = WORKLOADS[workload](spark, tracer, state, seed)
        wl.build()
        wl.timed_setup("warmup", wl.warmup)
        setup = {"session.get_spark": session_s, **wl.setup}
        setup_s = sum(setup.values())
        tracer.group("checks")  # benchmark-side work below is no op's
        wl.prepare_checks()

        ops = gen.op_list(workload, seed)
        mix = gen.MIXES[workload]
        block = sum(mix.values())
        by_kind: dict[str, list[float]] = {name: [] for name in mix}
        class_of_group: dict[str, str] = {}
        attempted = failed = errors = 0
        pause_wall = pause_cpu = 0.0
        peak_rss = procstat.tree_rss_mb()
        steal0 = procstat.cpu_counters()
        cpu0 = procstat.tree_cpu_s()
        t0 = time.perf_counter()
        for i, op in enumerate(ops):
            # stop only between blocks: every block holds the full mix, so
            # ops / wall and CPU / op always weigh each op kind by its share
            if i % block == 0 and time.perf_counter() - t0 - pause_wall >= seconds:
                break
            tracer.group(f"op{i}")
            class_of_group[f"op{i}"] = gen.CLASS_OF[op["op"]]
            a = time.perf_counter()
            try:
                with tracer.span("op"):
                    result = wl.execute(op)
                err = None
            except Exception as e:  # an op that raises counts as failed; the run goes on
                result, err = None, e
            dt = time.perf_counter() - a
            # the benchmark's own checking below is taken out of the timed
            # wall, and this process's CPU during it out of the timed CPU
            p0, pc0 = time.perf_counter(), time.process_time()
            attempted += 1
            if err is not None:
                errors += 1
                failed += 1
                if errors <= 3:
                    traceback.print_exception(err, file=sys.stderr)
            else:
                by_kind[op["op"]].append(dt * 1000.0)
                if not wl.check(op, result):
                    failed += 1
                    print(f"perfbench: check failed on op {i}: {json.dumps(op)[:200]}", file=sys.stderr)
            peak_rss = max(peak_rss, procstat.tree_rss_mb())
            pause_cpu += time.process_time() - pc0
            pause_wall += time.perf_counter() - p0
        wall = time.perf_counter() - t0 - pause_wall
        cpu = procstat.tree_cpu_s() - cpu0 - pause_cpu
        steal = procstat.steal_share(steal0, procstat.cpu_counters())
        t_fin = time.perf_counter()

        tracer.group("checks")
        wl.finish()
        for msg in wl.final_failures:
            print(f"perfbench: {msg}", file=sys.stderr)
        attempted += 1  # the end-of-run checks count as one op
        failed += bool(wl.final_failures)
        stored = wl.stored_bytes_per_user_byte()
    finally:
        stop_spark(spark)

    lat = {c: [v for name, vs in by_kind.items() if gen.CLASS_OF[name] == c for v in vs] for c in CLASSES}
    timed_ops = len(class_of_group)
    e2e = {
        "setup_s": setup_s,
        "ops_per_s": (timed_ops - errors) / wall,
        # process tree: this driver, the JVM and its Python workers
        "cpu_ms_per_op": cpu * 1000.0 / timed_ops,
        "read_p50_ms": class_p50(by_kind, "read"),
        "scan_p50_ms": class_p50(by_kind, "scan"),
        "stored_bytes_per_user_byte": stored,
    }
    # one client on the nominal mix from per-op-kind medians, for comparison:
    # it leaves out what a minority of a kind's ops pay (checkpoints, sweeps
    # with work) and work done between ops
    share = {name: k / block for name, k in mix.items()}
    mix_s = sum(w * p50(by_kind[name]) for name, w in share.items()) / 1000.0
    diag = {
        "workload": workload, "seed": seed, "cpu_steal_share": round(steal, 4),
        "state_fs": procstat.filesystem_of(state), "cpus": os.environ["SPARK_GRAFT_CPUS"],
        "samples": {c: len(v) for c, v in lat.items() if v},
        "p50_ms": {c: round(class_p50(by_kind, c), 1) for c, v in lat.items() if v},
        "kind_p50_ms": {name: round(p50(v), 1) for name, v in by_kind.items() if v},
        "setup_s": {k: round(v, 2) for k, v in setup.items()},
        "errors": errors, "blocks": timed_ops // block,
        "mix_median_ops_per_s": round(1.0 / mix_s, 4) if mix_s else 0.0,
        "timed_wall_s": round(wall, 2),
        "after_timed_s": round(time.perf_counter() - t_fin, 1), "run_wall_s": round(time.perf_counter() - _T0, 1),
    }
    if not trace:
        metrics = {name: e2e[name] for name in END_TO_END}
    else:
        t = time.perf_counter()
        layers = fold({"spans": tracer.spans, "counts": tracer.counts}, os.path.join(state, "eventlog"), class_of_group)
        diag["fold_s"] = round(time.perf_counter() - t, 2)
        layers.update(wl.quality)
        # set-up phases, and the post-phase ones a traced run adds
        layers.update({f"{p}_s": v for p, v in {"session.get_spark": session_s, **wl.setup}.items()})
        for c, v in lat.items():
            layers[f"class.{c}.p50_ms"] = class_p50(by_kind, c)
            layers[f"class.{c}.n"] = float(len(v))
        layers["process.peak_rss_mb"] = peak_rss
        layers["trace.ops_per_s"] = e2e["ops_per_s"]
        layers["trace.cpu_ms_per_op"] = e2e["cpu_ms_per_op"]
        metrics = {name: layers.get(name, 0.0) for name in PER_LAYER}
    print("# diag " + json.dumps(diag), flush=True)
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": float(v), "unit": unit_of(k)} for k, v in metrics.items()},
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=["memory_oltp", "rag_retrieve"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)

    # a SIGTERM unwinds like an exception, so Spark stops and the state goes
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    state = os.path.join(ROOT, ".perfbench_state", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(state, ignore_errors=True)
    os.makedirs(state)
    try:
        result = run(args.workload, args.seed, args.seconds, bool(args.trace), state)
    finally:
        shutil.rmtree(state, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(state))
        except OSError:
            pass  # another run still holds its own state there
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
