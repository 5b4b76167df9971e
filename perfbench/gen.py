"""Seeded inputs for the benchmark: tables, op streams and a planted batch.

Everything here is a pure function of ``(workload, seed)``: the same seed
gives byte-identical tables and op lists, another seed gives different ones.
The engine under test only ever sees what these functions return.

The tables mirror the shapes of the engine's testdata (``events``,
``documents``, ``embeddings``) at a size that lets a run finish many ops in
a few seconds; they are written as parquet so the engine loads them through
its own ``sources.tables.load_table``.
"""

from __future__ import annotations

import json
import os
from datetime import datetime, timedelta

import numpy as np

#: the engine's fixed evaluation instant (sources.memories.NOW_TS)
NOW = datetime(2024, 1, 15)
EPOCH = datetime(2024, 1, 1)

N_EVENTS = 20_000
N_DOCS = 2_000
DIM = 64
N_CLUSTERS = 24
#: blocks of the op mix in one op list; a run stops between blocks long
#: before it runs out
N_BLOCKS = 12
INGEST_ID_BASE = 1_000_000

EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
MEMORY_TYPES = ["ephemeral", "short_term", "long_term", "permanent"]
DEFAULT_TTL = {"ephemeral": 300, "short_term": 3600, "long_term": 604800, "permanent": 0}

# Interleaved op mixes: every block holds exactly these counts, shuffled, so
# each class sees the same share of every stretch of the run, and a run
# executes whole blocks. The shares are assumed, not taken from a recorded
# trace (see README.md): reads dominate, every op kind is in every block,
# and one block takes longer than the 10 s a run measures (4-core VM), so a
# run executes one block: 20 point reads, 20 scans and 5 writes (memory),
# or 6 ANN and 9 exact searches (rag). The memory stream is built so that
# every block's writes find the same work (see _memory_ops).
MIXES = {
    "memory_oltp": {
        "get": 12, "exists": 8, "list": 10, "stats": 10,
        "add": 1, "touch": 1, "update": 1, "delete": 1, "sweep": 1,
    },
    "rag_retrieve": {"ivf": 6, "exact": 9, "keyword": 1, "hybrid": 1},
}
#: the order of memory writes within a block. A touch or update costs
#: about twice as much while an added row waits for its sweep; the order
#: is fixed so that every block finds the same work, whatever the seed.
WRITE_ORDER = ("add", "touch", "update", "delete", "sweep")
#: every this many point reads, one asks for an absent key
ABSENT_EVERY = 10

#: op name -> latency class reported by the benchmark
CLASS_OF = {
    "get": "read", "exists": "read",
    "list": "scan", "stats": "scan",
    "add": "write", "touch": "write", "update": "write", "delete": "write",
    "sweep": "write",
    "ivf": "read", "exact": "scan", "keyword": "keyword", "hybrid": "hybrid",
}

_CONS = "bcdfghklmnprstvz"
_VOW = "aeiou"
#: fixed vocabulary (seed-independent), ranked by Zipf frequency
VOCAB = [c1 + v1 + c2 + "a" for c1 in _CONS for v1 in _VOW for c2 in _CONS[:6]]


def _rng(seed: int, stream: str) -> np.random.Generator:
    return np.random.default_rng([seed, sum(ord(c) << (i % 24) for i, c in enumerate(stream))])


def _zipf_p(n: int, a: float) -> np.ndarray:
    w = 1.0 / np.arange(1, n + 1) ** a
    return w / w.sum()


_WORD_P = _zipf_p(len(VOCAB), 1.05)


def _text(rng: np.random.Generator, lo: int = 12, hi: int = 40) -> list[str]:
    n = int(rng.integers(lo, hi + 1))
    return [VOCAB[i] for i in rng.choice(len(VOCAB), size=n, p=_WORD_P)]


# ------------------------------------------------------------------ tables


def events(seed: int) -> dict:
    r = _rng(seed, "events")
    span_us = 30 * 86_400 * 1_000_000
    ts = np.sort(r.integers(0, span_us, size=N_EVENTS))
    return {
        "event_id": np.arange(N_EVENTS, dtype=np.int64),
        "ts": np.datetime64(EPOCH, "us") + ts.astype("timedelta64[us]"),
        "user_id": r.integers(0, 2_000, size=N_EVENTS).astype(np.int64),
        "event_type": [EVENT_TYPES[i] for i in r.choice(5, size=N_EVENTS, p=[0.4, 0.3, 0.1, 0.05, 0.15])],
        "value": np.round(r.uniform(0, 500, size=N_EVENTS), 2),
        "props": [json.dumps({"k": int(k)}) for k in r.integers(0, 100, size=N_EVENTS)],
    }


def documents(seed: int) -> dict:
    r = _rng(seed, "documents")
    texts = [" ".join(_text(r)) for _ in range(N_DOCS)]
    return {
        "doc_id": np.arange(N_DOCS, dtype=np.int64),
        "text": texts,
        "lang": [("en", "de", "zh")[i] for i in r.integers(0, 3, size=N_DOCS)],
        "source": [f"src{i}" for i in r.integers(0, 5, size=N_DOCS)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }


def embedding_matrix(seed: int) -> np.ndarray:
    """Clustered unit vectors (doc_id = vec_id), float32."""
    r = _rng(seed, "embeddings")
    centers = r.normal(size=(N_CLUSTERS, DIM))
    v = centers[r.integers(0, N_CLUSTERS, size=N_DOCS)] + 0.6 * r.normal(size=(N_DOCS, DIM))
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    return v.astype(np.float32)


def write_tables(seed: int, data_dir: str, names: tuple[str, ...]) -> dict[str, int]:
    """Write the named tables as parquet under ``data_dir``; returns the
    bytes written per table (the user bytes handed to the engine)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    build = {
        "events": lambda: pa.table(events(seed)),
        "documents": lambda: pa.table(documents(seed)),
        "embeddings": lambda: pa.table({
            "vec_id": np.arange(N_DOCS, dtype=np.int64),
            "embedding": pa.array(list(embedding_matrix(seed)), type=pa.list_(pa.float32())),
            "label": (np.arange(N_DOCS) % 7).astype(np.int32),
        }),
    }
    os.makedirs(data_dir, exist_ok=True)
    sizes = {}
    for name in names:
        path = os.path.join(data_dir, f"{name}.parquet")
        pq.write_table(build[name](), path)
        sizes[name] = os.path.getsize(path)
    return sizes


# --------------------------------------------------------------- op streams


def _deck(r: np.random.Generator, mix: dict[str, int], order: tuple[str, ...] = ()) -> list[str]:
    """N_BLOCKS shuffled blocks of ``mix``; the kinds named in ``order``
    take the slots the shuffle gave them in that order."""
    block = [name for name, k in mix.items() for _ in range(k)]
    out = []
    for _ in range(N_BLOCKS):
        part = [block[i] for i in r.permutation(len(block))]
        slots = [i for i, name in enumerate(part) if name in order]
        for i, name in zip(slots, order):
            part[i] = name
        out += part
    return out


def _memory_ops(seed: int) -> list[dict]:
    """The memory stream. Reads draw Zipf-skewed keys over every memory,
    and every ABSENT_EVERY-th read an absent key. Writes keep the same work
    in every block, whatever the seed: touches, updates and deletes hit
    memories created after NOW (live whatever their TTL policy), never one
    deleted before; every add is a late-arriving ephemeral or short-term
    memory whose TTL ran out before NOW, and the writes of a block run in
    WRITE_ORDER, so every sweep removes exactly the one row added before it."""
    r = _rng(seed, "memory_oltp")
    cdf = np.cumsum(_zipf_p(N_EVENTS, 0.9))
    hot = r.permutation(N_EVENTS)  # which event ids are hot differs by seed
    live = r.permutation(np.flatnonzero(events(seed)["ts"] > np.datetime64(NOW, "us")))
    live_cdf = np.cumsum(_zipf_p(len(live), 0.9))
    deleted: set[int] = set()
    reads = 0

    def read_key() -> str:
        nonlocal reads
        reads += 1
        if reads % ABSENT_EVERY == 0:
            return f"mem-absent-{int(r.integers(0, 10**6))}"
        rank = min(int(np.searchsorted(cdf, r.random())), N_EVENTS - 1)
        return f"mem-{int(hot[rank])}"

    def write_key() -> int:
        while True:
            k = int(live[min(int(np.searchsorted(live_cdf, r.random())), len(live) - 1)])
            if k not in deleted:
                return k

    ops = []
    for i, name in enumerate(_deck(r, MIXES["memory_oltp"], WRITE_ORDER)):
        op: dict = {"op": name}
        if name in ("get", "exists"):
            op["key"] = read_key()
        elif name in ("touch", "update", "delete"):
            k = write_key()
            op["key"] = f"mem-{k}"
            if name == "update":
                op["data"] = json.dumps({"v": int(r.integers(0, 10**6))})
            if name == "delete":
                deleted.add(k)
        elif name == "add":
            mtype = MEMORY_TYPES[int(r.integers(0, 2))]
            ttl = int(DEFAULT_TTL[mtype] + 60 * r.integers(0, 5))
            op.update(
                key=f"mem-new-{seed}-{i}",
                memory_type=mtype,
                data=json.dumps({"new": i, "k": int(r.integers(0, 100))}),
                # created more than its TTL before NOW: expired on arrival
                age_s=int(r.integers(ttl + 60, 2 * 86_400)),
                ttl_s=ttl,
                bucket=str(int(r.integers(0, 3))),
            )
        elif name == "list":
            op.update(
                memory_type=MEMORY_TYPES[int(r.integers(0, 4))],
                bucket=str(int(r.integers(0, 3))),
                offset=int(r.integers(0, 40)),
            )
        ops.append(op)
    return ops


def _query_vec(r: np.random.Generator, emb: np.ndarray) -> list[float]:
    q = emb[int(r.integers(0, len(emb)))] + 0.15 * r.normal(size=DIM) / np.sqrt(DIM)
    q = (q / np.linalg.norm(q)).astype(np.float32)
    return [float(x) for x in q]


def _keyword_query(r: np.random.Generator) -> str:
    # one to three terms, each from a frequency band picked at random, so
    # term document-frequencies span head, middle and tail of the vocabulary
    bands = [(0, 20), (20, 150), (150, len(VOCAB))]
    terms = []
    for _ in range(int(r.integers(1, 4))):
        lo, hi = bands[int(r.integers(0, 3))]
        terms.append(VOCAB[int(r.integers(lo, hi))])
    return " ".join(terms)


def _rag_ops(seed: int) -> list[dict]:
    r = _rng(seed, "rag_retrieve")
    emb = embedding_matrix(seed)
    ops = []
    for name in _deck(r, MIXES["rag_retrieve"]):
        op: dict = {"op": name}
        if name in ("ivf", "exact", "hybrid"):
            op["qvec"] = _query_vec(r, emb)
        if name in ("keyword", "hybrid"):
            op["query"] = _keyword_query(r)
        ops.append(op)
    return ops


def ingest_batch(seed: int) -> list[dict]:
    """One arriving batch: fresh docs (each carries a unique token, so its
    own keyword probe must find it), planted exact copies of corpus docs,
    and planted near-duplicates (a corpus doc with its first word dropped)."""
    r = _rng(seed, "ingest")
    base = documents(seed)["text"]
    docs = []
    for j in range(4):
        token = f"zq{seed}x{j}"
        words = _text(r)
        words.insert(int(r.integers(0, len(words))), token)
        docs.append({"text": " ".join(words), "kind": "fresh", "token": token})
    for _ in range(4):
        docs.append({"text": base[int(r.integers(0, len(base)))], "kind": "exact"})
    for _ in range(6):
        src = base[int(r.integers(0, len(base)))].split(" ")
        docs.append({"text": " ".join(src[1:]), "kind": "near"})
    docs = [docs[k] for k in r.permutation(len(docs))]
    for j, d in enumerate(docs):
        d["doc_id"] = INGEST_ID_BASE + j
    return docs


def op_list(workload: str, seed: int) -> list[dict]:
    if workload == "memory_oltp":
        return _memory_ops(seed)
    if workload == "rag_retrieve":
        return _rag_ops(seed)
    raise ValueError(f"unknown workload {workload!r}")


def op_bytes(workload: str, seed: int) -> bytes:
    """Canonical serialisation of an op list (what the determinism test pins)."""
    return json.dumps(op_list(workload, seed), sort_keys=True, separators=(",", ":")).encode()


def expires_at(policy: str, ttl: int | None, created: datetime, accessed: datetime) -> datetime | None:
    """The engine's expiry-by-policy rule (functions.ttl.expiry_for_policy),
    restated for the benchmark's own model of the store."""
    if policy == "never" or ttl is None or ttl <= 0:
        return None
    return (accessed if policy == "sliding" else created) + timedelta(seconds=ttl)
