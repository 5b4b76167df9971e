"""The benchmark's workloads: set-up, one closed-loop op at a time, checks.

Each workload drives the engine only through public functions of
``mcp_synaptic_spark`` and keeps its own model of what the answers must be.
``execute`` is the timed part of an op; ``check`` runs untimed right after
it; ``finish`` runs the checks that need the whole run (read-back,
reference searches on a sample) after the timed phase.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time
from datetime import timedelta

import numpy as np

import gen
from procstat import dir_bytes_files


class Workload:
    name = ""
    #: the generated tables this workload hands to the engine
    tables: tuple[str, ...] = ()

    def __init__(self, spark, tracer, root: str, seed: int):
        self.spark = spark
        self.tracer = tracer
        self.root = root
        self.seed = seed
        self.data_dir = os.path.join(root, "data")
        self.user_bytes = sum(gen.write_tables(seed, self.data_dir, self.tables).values())
        self.setup: dict[str, float] = {}
        self.quality: dict[str, float] = {}
        self.final_failures: list[str] = []

    # helpers: one span per public call (the lazy plan-building call), and
    # one around the collect that executes it
    def call(self, name: str, fn, *args, **kwargs):
        with self.tracer.span(f"{name}.call"):
            return fn(*args, **kwargs)

    def collect(self, name: str, df):
        with self.tracer.span(f"{name}.exec"):
            return df.collect()

    def timed_setup(self, phase: str, fn, *args, **kwargs):
        self.tracer.group(f"setup:{phase}")
        t = time.perf_counter()
        out = fn(*args, **kwargs)
        self.setup[phase] = self.setup.get(phase, 0.0) + time.perf_counter() - t
        return out

    def stored_bytes_per_user_byte(self) -> float:
        """Bytes the engine keeps under the state root per byte of input."""
        total = 0
        for name in os.listdir(self.root):
            if name not in ("data", "spark-local", "tmp", "eventlog", "warehouse"):
                total += dir_bytes_files(os.path.join(self.root, name))[0]
        return total / self.user_bytes


# ---------------------------------------------------------------- memory


class MemoryOLTP(Workload):
    """Keyed TTL store on one TxnTable: point reads, scans, single-key
    commits and a periodic expiry sweep, checked against a dict model."""

    name = "memory_oltp"
    tables = ("events",)
    #: table creates in set-up; setup_s takes their median
    CREATE_REPEATS = 3
    #: warm-up rounds of the read and scan kinds, so the JIT has compiled
    #: their path before timing starts
    WARMUP_ROUNDS = 2

    def build(self) -> None:
        from mcp_synaptic_spark.sources.memories import memories_from_events, now_col
        from mcp_synaptic_spark.sources.tables import load_table
        from mcp_synaptic_spark.state.txn import TxnTable

        events = self.timed_setup("sources.load", load_table, self.spark, self.data_dir, "events")
        mem = memories_from_events(events)
        creates = []
        for i in range(self.CREATE_REPEATS):
            path = os.path.join(self.root, f"memories{i}")
            t = time.perf_counter()
            self.table = self.timed_setup(
                "state.txn.create", TxnTable.create, self.spark, path, mem, stat_cols=("expires_at",)
            )
            creates.append(time.perf_counter() - t)
            if i < self.CREATE_REPEATS - 1:
                shutil.rmtree(path)
        # setup_s counts one create: the median of the repeats
        self.setup["state.txn.create"] = statistics.median(creates)
        self.now = now_col()
        self.events_dir = os.path.join(self.root, "expired_events")
        self.schema = self.table.read().schema

    def warmup(self) -> None:
        from pyspark.sql import functions as F

        # write amplification, before the sweep can remove the key: touch an
        # existing memory (its directory is rewritten), then add a new one
        old = self.table.read().where(F.col("key") == "mem-1").collect()[0].asDict()
        warm_key = f"mem-warmup-{self.seed}"
        stored = user = 0
        for row in (
            dict(old, access_count=old["access_count"] + 1, updated_at=gen.NOW),
            self._fresh_row(warm_key, "short_term", '{"warm": 1}', 600, 3600, "0"),
        ):
            before = dir_bytes_files(self.table.path)
            self.table.upsert(self.spark.createDataFrame([self._tuple(row)], self.schema))
            after = dir_bytes_files(self.table.path)
            stored += after[0] - before[0]
            user += sum(len(str(v).encode()) for v in row.values())
            self.tracer.count("state.txn.upsert.bytes_written", after[0] - before[0])
            self.tracer.count("state.txn.upsert.files_written", after[1] - before[1])
        self.amplification = stored / user
        self.table.delete_where(F.col("key") == warm_key)
        for _ in range(self.WARMUP_ROUNDS):
            for op in (
                {"op": "get", "key": "mem-1"}, {"op": "exists", "key": "mem-1"},
                {"op": "list", "memory_type": "short_term", "bucket": "1", "offset": 0},
                {"op": "stats"},
            ):
                self._run(op)
        self._run({"op": "sweep"})

    def prepare_checks(self) -> None:
        # the model starts from what the store holds after warm-up
        self.model = {r["key"]: r.asDict() for r in self.table.read().collect()}
        self.written_row: dict | None = None

    # ---- model

    def _fresh_row(self, key, mtype, data, age_s, ttl_s, bucket) -> dict:
        created = gen.NOW - timedelta(seconds=age_s)
        policy = {"permanent": "never", "ephemeral": "sliding"}.get(mtype, "absolute")
        return {
            "id": f"id-{key}", "key": key, "data": data, "memory_type": mtype,
            "created_at": created, "updated_at": created, "last_accessed_at": created,
            "access_count": 0, "expiration_policy": policy, "ttl_seconds": ttl_s,
            "expires_at": gen.expires_at(policy, ttl_s, created, created),
            "tags": {"src": "bench", "bucket": bucket}, "metadata": None,
        }

    def _tuple(self, row: dict) -> tuple:
        return tuple(row[f.name] for f in self.schema.fields)

    @staticmethod
    def _live(row: dict) -> bool:
        return row["expires_at"] is None or row["expires_at"] > gen.NOW

    def _expired(self) -> list[str]:
        return [k for k, r in self.model.items() if r["expires_at"] is not None and r["expires_at"] <= gen.NOW]

    def _row_for_write(self, op: dict) -> dict:
        name, key = op["op"], op["key"]
        if name == "add":
            return self._fresh_row(key, op["memory_type"], op["data"], op["age_s"], op["ttl_s"], op["bucket"])
        row = dict(self.model[key])  # gen targets touches and updates at live memories
        if name == "touch":
            row["last_accessed_at"] = gen.NOW
            row["access_count"] = (row["access_count"] or 0) + 1
            row["expires_at"] = gen.expires_at(
                row["expiration_policy"], row["ttl_seconds"], row["created_at"], gen.NOW
            )
        else:
            row["data"] = op["data"]
        row["updated_at"] = gen.NOW
        return row

    # ---- ops

    def _run(self, op: dict):
        from pyspark.sql import functions as F

        from mcp_synaptic_spark.operators import memory as M
        from mcp_synaptic_spark.streaming.expiry import sweep_once_txn

        name = op["op"]
        if name in ("get", "exists", "list", "stats"):
            df = self.call("state.txn.read", self.table.read)
            if name == "get":
                q = self.call("operators.memory.memory_list", M.memory_list, df, self.now, keys=[op["key"]])
                return self.collect("operators.memory.memory_list", q)
            if name == "exists":
                q = self.call("operators.memory.memory_exists", M.memory_exists, df, op["key"], self.now)
                return self.collect("operators.memory.memory_exists", q)
            if name == "list":
                q = self.call(
                    "operators.memory.memory_list_filtered", M.memory_list, df, self.now,
                    memory_types=[op["memory_type"]], tags={"bucket": op["bucket"]}, offset=op["offset"],
                )
                return self.collect("operators.memory.memory_list_filtered", q)
            q = self.call("operators.memory.memory_stats", M.memory_stats, df, self.now)
            return self.collect("operators.memory.memory_stats", q)
        if name == "delete":
            return self.call("state.txn.delete_where", self.table.delete_where, F.col("key") == op["key"])
        if name == "sweep":
            return self.call(
                "streaming.expiry.sweep_once_txn", sweep_once_txn, self.table, self.events_dir, now=gen.NOW
            )
        row = self.written_row = self._row_for_write(op)
        upd = self.spark.createDataFrame([self._tuple(row)], self.schema)
        return self.call("state.txn.upsert", self.table.upsert, upd)

    def execute(self, op: dict):
        self.written_row = None
        return self._run(op)

    def check(self, op: dict, result) -> bool:
        name = op["op"]
        m = self.model
        if name == "get":
            row = m.get(op["key"])
            want = [(op["key"], row["data"])] if row is not None and self._live(row) else []
            return [(r["key"], r["data"]) for r in result] == want
        if name == "exists":
            row = m.get(op["key"])
            return bool(result) == (row is not None and self._live(row))
        if name == "list":
            rows = sorted(
                (r["created_at"], k) for k, r in m.items()
                if self._live(r) and r["memory_type"] == op["memory_type"]
                and (r["tags"] or {}).get("bucket") == op["bucket"]
            )
            want = [k for _, k in rows[op["offset"]:op["offset"] + 10]]
            return [r["key"] for r in result] == want
        if name == "stats":
            s = result[0]
            return (
                s["total_memories"] == len(m)
                and s["expired_memories"] == len(self._expired())
                and s["total_size_bytes"] == sum(len(r["data"].encode()) for r in m.values())
            )
        if name == "delete":
            ok = result[1] == (1 if op["key"] in m else 0)
            m.pop(op["key"], None)
            return ok
        if name == "sweep":
            gone = self._expired()
            for k in gone:
                del m[k]
            return result == len(gone)
        m[op["key"]] = self.written_row
        return True

    def stored_bytes_per_user_byte(self) -> float:
        """Bytes the table grew by per byte of row upserted, over the warm-up's
        touch of an existing memory and add of a new one."""
        return self.amplification

    def finish(self) -> None:
        """Read every acknowledged write back through a fresh handle."""
        from mcp_synaptic_spark.state.txn import TxnTable

        fresh = TxnTable(self.spark, self.table.path, stat_cols=("expires_at",))
        stored = {
            r["key"]: (r["data"], r["expires_at"], r["access_count"])
            for r in fresh.read().select("key", "data", "expires_at", "access_count").collect()
        }
        want = {k: (r["data"], r["expires_at"], r["access_count"]) for k, r in self.model.items()}
        if stored != want:
            diff = set(stored.items()) ^ set(want.items())
            self.final_failures.append(f"read-back: {len(diff)} rows differ from the model")
        live = {os.path.dirname(f) for f in fresh.read().inputFiles()}
        self.quality["state.txn.live_dirs"] = float(len(live))


# ------------------------------------------------------------------- rag


class RagRetrieve(Workload):
    """Read-only retrieval: ANN over an IVF index, keyword search over a
    BM25 index, the exact scan, and hybrid fusion with context assembly.

    A traced run also admits one planted batch through the ingest pipeline
    (dedup screen, admissions ledger, embedding, IVF and BM25 appends) after
    the timed phase, so the per-layer metrics cover the write side of the
    same indexes without changing what the timed reads run against."""

    name = "rag_retrieve"
    tables = ("documents", "embeddings")
    N_CELLS = 16
    NPROBE = 4
    K = 10
    CONTEXT_CHARS = 1000

    def build(self) -> None:
        from mcp_synaptic_spark.operators import bm25_index as B
        from mcp_synaptic_spark.operators import similarity as S
        from mcp_synaptic_spark.sources.tables import load_table

        sp = self.spark
        self.emb = self.timed_setup("sources.load", load_table, sp, self.data_dir, "embeddings")
        self.docs = self.timed_setup("sources.load", load_table, sp, self.data_dir, "documents")
        # each index is built once: a cold build costs 8-10 s and two more
        # per index would add 15 s to every run (see README.md)
        self.ivf_path = os.path.join(self.root, "ivf")
        self.bm25_path = os.path.join(self.root, "bm25")
        self.timed_setup(
            "operators.similarity.ivf_index_write", S.ivf_index_write, self.emb, self.ivf_path,
            n_cells=self.N_CELLS, id_col="vec_id",
        )
        self.timed_setup("operators.bm25_index.bm25_index_write", B.bm25_index_write, self.docs, self.bm25_path)
        self.idx, self.centroids = S.ivf_index_load(sp, self.ivf_path)
        self.corpus = self.docs.select("doc_id", "text")

    def warmup(self) -> None:
        ops = gen.op_list(self.name, self.seed + 1_000_003)
        for cls in ("ivf", "exact", "keyword", "hybrid"):
            self._run(next(o for o in ops if o["op"] == cls))
        # the two kinds the end-to-end latencies time run once more, so the
        # JIT has compiled their path before timing starts
        for cls in ("ivf", "exact"):
            self._run([o for o in ops if o["op"] == cls][1])

    def prepare_checks(self) -> None:
        # ground truth for the checks (benchmark side, not in setup_s)
        self.vecs = gen.embedding_matrix(self.seed).astype(np.float64)
        self.vecs /= np.linalg.norm(self.vecs, axis=1, keepdims=True)
        cells = self.idx.groupBy("cell").count().collect()
        self.cell_rows = {r["cell"]: r["count"] for r in cells}
        docs = gen.documents(self.seed)
        self.texts = dict(zip(docs["doc_id"].tolist(), docs["text"]))
        self.keyword_sample: list[tuple[dict, list]] = []
        self.hybrid_sample: list[tuple[dict, list]] = []
        self.recalls: list[float] = []

    # ---- ops

    def _query_frame(self, qvec):
        with self.tracer.span("bench.query_frame"):
            return self.spark.createDataFrame([(0, qvec)], "qid long, qvec array<float>")

    def _lexical(self, query: str, k: int):
        from pyspark.sql import Window
        from pyspark.sql import functions as F

        from mcp_synaptic_spark.operators import bm25_index as B

        res = self.call("operators.bm25_index.bm25_search_indexed", B.bm25_search_indexed, self.spark, self.bm25_path, query, k=k)
        w = Window.orderBy(F.desc("bm25"), F.col("doc_id").asc())
        return res, res.select("doc_id", F.row_number().over(w).alias("rank"))

    def _semantic(self, qvec, k: int):
        from mcp_synaptic_spark.operators import rag as R

        return self.call(
            "operators.rag.rag_search", R.rag_search, self.emb, qvec,
            id_col="vec_id", threshold=0.0, limit=k, max_results=k,
        )

    def _run(self, op: dict):
        from pyspark.sql import functions as F

        from mcp_synaptic_spark.operators import retrieval as RT
        from mcp_synaptic_spark.operators import similarity as S

        name = op["op"]
        if name == "ivf":
            q = self.call(
                "operators.similarity.ivf_topk", S.ivf_topk, self._query_frame(op["qvec"]), self.idx,
                self.centroids, k=self.K, nprobe=self.NPROBE, id_col="vec_id",
            )
            return self.collect("operators.similarity.ivf_topk", q)
        if name == "exact":
            return self.collect("operators.rag.rag_search", self._semantic(op["qvec"], self.K))
        if name == "keyword":
            res, _ = self._lexical(op["query"], self.K)
            return self.collect("operators.bm25_index.bm25_search_indexed", res)
        _, lex = self._lexical(op["query"], 20)
        sem = self._semantic(op["qvec"], 20).select(F.col("vec_id").alias("doc_id"), "rank")
        fused = self.call("operators.retrieval.hybrid_search_rrf", RT.hybrid_search_rrf, lex, sem, k=self.K)
        ranked = fused.join(self.corpus.select("doc_id", F.col("text").alias("content")), "doc_id")
        ctx = self.call(
            "operators.retrieval.assemble_context", RT.assemble_context, ranked,
            max_context_length=self.CONTEXT_CHARS,
        )
        return self.collect("operators.retrieval.assemble_context", ctx)

    def execute(self, op: dict):
        return self._run(op)

    def _true_scores(self, qvec) -> np.ndarray:
        q = np.asarray(qvec, dtype=np.float64)
        return np.clip(self.vecs @ (q / np.linalg.norm(q)), 0.0, 1.0)

    def _scores_match(self, rows, true: np.ndarray) -> bool:
        """k distinct ids, each with its true cosine score, best first."""
        ids = [r["vec_id"] for r in rows]
        scores = np.array([r["score"] for r in rows])
        return (
            len(set(ids)) == self.K
            and bool(np.all(np.abs(true[ids] - scores) <= 2e-6))
            and bool(np.all(np.diff(scores) <= 0))
        )

    def check(self, op: dict, result) -> bool:
        name = op["op"]
        rows = sorted(result, key=lambda r: r["rank"]) if name in ("ivf", "exact") else result
        if name == "ivf":
            # approximate: answers must be scored right; how many of the
            # exact top-k it found is recall, not correctness
            true = self._true_scores(op["qvec"])
            exact = np.lexsort((np.arange(len(true)), -np.round(true, 9)))[: self.K]
            self.recalls.append(len(set(exact.tolist()) & {r["vec_id"] for r in rows}) / self.K)
            self._count_scored(op["qvec"])
            return self._scores_match(rows, true)
        if name == "exact":
            # exact: also nothing left out may score above the lowest answer
            true = self._true_scores(op["qvec"])
            return self._scores_match(rows, true) and bool(np.sort(true)[-self.K] <= rows[-1]["score"] + 2e-6)
        if name == "keyword":
            if len(self.keyword_sample) < 4:
                self.keyword_sample.append((op, result))
            return len(result) <= self.K
        if len(self.hybrid_sample) < 3:
            self.hybrid_sample.append((op, result))
        return len(result) == 1 and 0 < result[0]["n_chars"] <= self.CONTEXT_CHARS

    def _count_scored(self, qvec) -> None:
        if not self.tracer.enabled:
            return
        c = np.asarray(self.centroids, dtype=np.float64)
        q = np.asarray(qvec, dtype=np.float64)
        cos = c @ q / (np.linalg.norm(c, axis=1) * np.linalg.norm(q))
        probed = np.lexsort((np.arange(len(c)), np.round(1.0 - cos, 12)))[: self.NPROBE]
        rows = sum(self.cell_rows.get(int(i), 0) for i in probed)
        self.tracer.count("operators.similarity.ivf_topk.rows_scored_per_result", rows / self.K)

    def finish(self) -> None:
        """Reference checks on a sample: the indexed BM25 probe against
        ``retrieval.bm25_search`` over the same corpus, and each hybrid
        context against a fusion of separately fetched rankings."""
        from mcp_synaptic_spark.operators import retrieval as RT

        for op, got in self.keyword_sample:
            want = RT.bm25_search(self.corpus, op["query"], k=self.K).collect()
            if [(r["doc_id"], r["bm25"]) for r in got] != [(r["doc_id"], r["bm25"]) for r in want]:
                self.final_failures.append(f"keyword: indexed != brute bm25 for {op['query']!r}")
        for op, got in self.hybrid_sample:
            lex = {r["doc_id"]: r["rank"] for r in self._lexical(op["query"], 20)[1].collect()}
            sem = {r["vec_id"]: r["rank"] for r in self._semantic(op["qvec"], 20).collect()}
            rrf = {
                i: round((1 / (60 + lex[i]) if i in lex else 0.0) + (1 / (60 + sem[i]) if i in sem else 0.0), 6)
                for i in set(lex) | set(sem)
            }
            top = min(rrf, key=lambda i: (-rrf[i], i))
            if not got[0]["context"].startswith(self.texts[top][: self.CONTEXT_CHARS - 3]):
                self.final_failures.append(f"hybrid: context does not open with the top fused doc {top}")
        self.quality["recall_at_10"] = statistics.mean(self.recalls) if self.recalls else 0.0
        if self.tracer.enabled:
            self.dedup_path = os.path.join(self.root, "dedup")
            from mcp_synaptic_spark.operators.dedup import dedup_index_write

            self.timed_setup("operators.dedup.dedup_index_write", dedup_index_write, self.docs, self.dedup_path)
            self.timed_setup("ingest", self.ingest)

    def ingest(self) -> None:
        """Admit one seeded batch: screen, ledger, embed, append, probe."""
        from pyspark.sql import functions as F

        from mcp_synaptic_spark.operators import bm25_index as B
        from mcp_synaptic_spark.operators import dedup as D
        from mcp_synaptic_spark.operators import similarity as S
        from mcp_synaptic_spark.sources.embedders import hash_embedder
        from mcp_synaptic_spark.state.txn import TxnTable

        sp = self.spark
        dedup_path = self.dedup_path
        docs = gen.ingest_batch(self.seed)
        batch = sp.createDataFrame([(d["doc_id"], d["text"]) for d in docs], "doc_id long, text string")
        index = D.dedup_index_load(sp, dedup_path)
        q = self.call("operators.dedup.dedup_incremental", D.dedup_incremental, None, batch, index=index, threshold=0.5)
        verdicts = {r["doc_id"]: r["verdict"] for r in self.collect("operators.dedup.dedup_incremental", q)}
        kind = {d["doc_id"]: d["kind"] for d in docs}
        admitted = sorted(i for i, v in verdicts.items() if v == "admitted")
        planted_near = [i for i in kind if kind[i] == "near"]
        self.quality["ingest.near_dup_recall"] = sum(verdicts[i] != "admitted" for i in planted_near) / len(planted_near)
        self.quality["ingest.admitted_per_attempted"] = len(admitted) / len(docs)
        if any(verdicts[i] != "exact_dup" for i in kind if kind[i] == "exact"):
            self.final_failures.append("ingest: a planted exact duplicate was not rejected as exact_dup")
        adm = batch.where(F.col("doc_id").isin(admitted))
        won = self.call("operators.dedup.dedup_index_append_txn", D.dedup_index_append_txn, adm, dedup_path)
        won_rows = self.collect("operators.dedup.dedup_index_append_txn", won)
        ledger = TxnTable(sp, os.path.join(dedup_path, "_admissions"), key_col="ch").read().count()
        if len(won_rows) != len(admitted) or ledger != len(admitted):
            self.final_failures.append(f"ingest: ledger holds {ledger} rows, {len(admitted)} docs admitted")
        vecs = self.call("sources.embedders.hash_embedder", hash_embedder, adm, dim=gen.DIM)
        vecs = vecs.withColumnRenamed("doc_id", "vec_id")
        self.call("operators.similarity.ivf_index_append", S.ivf_index_append, vecs, self.ivf_path, id_col="vec_id")
        self.call("operators.bm25_index.bm25_index_append", B.bm25_index_append, adm, self.bm25_path)
        # read-your-writes: the first admitted doc, by its vector and its token
        probe_id = admitted[0]
        idx, cent = S.ivf_index_load(sp, self.ivf_path)
        qv = vecs.where(F.col("vec_id") == probe_id).select(F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec"))
        hits = self.collect("ingest.ivf_topk", S.ivf_topk(qv, idx, cent, k=self.K, nprobe=self.NPROBE, id_col="vec_id"))
        self.quality["ingest.ryw_ann_hit"] = float(probe_id in [r["vec_id"] for r in hits])
        token = next(d["token"] for d in docs if d["doc_id"] == probe_id)
        top = self.collect("ingest.bm25_search_indexed", B.bm25_search_indexed(sp, self.bm25_path, token, k=1))
        if [r["doc_id"] for r in top] != [probe_id]:
            self.final_failures.append("ingest: an admitted doc was not found by its own keyword probe")
        for name, path in (("similarity.ivf", self.ivf_path), ("bm25_index", self.bm25_path), ("dedup", dedup_path)):
            self.quality[f"operators.{name}.index_files"] = float(dir_bytes_files(path)[1])
        meta = B.bm25_index_load(sp, self.bm25_path)[1]
        self.quality["operators.bm25_index.append_generations"] = float(len(meta.get("gens", [])))


WORKLOADS = {w.name: w for w in (MemoryOLTP, RagRetrieve)}
