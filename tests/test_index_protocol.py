"""The index persistence protocol (state/manifest.py) across the five
persisted index families: BRP-LSH, IVF, BM25, the dedup index and the LM
tables.

- Crash injection: a writer that dies between its data write and the
  manifest publish leaves the index loading and probing exactly as
  before; the retry lands once (probe == a rebuild over base ∪ batch);
  the next publish removes the orphaned data directories. (BM25's case is
  tests/test_bm25_index.py::test_append_crash_before_manifest_commit_is_invisible_and_retryable.)
- Two writers: two threads append different batches to one index; the
  writer lock serializes them, so both batches land and the probe equals a
  rebuild over the union.
- A directory without `_index.json` is refused by every loader.
"""

from __future__ import annotations

import json
import os
import threading

import pytest
from pyspark.sql import functions as F

from mcp_synaptic_spark.operators import bm25_index as B
from mcp_synaptic_spark.operators import dedup as D
from mcp_synaptic_spark.operators import lm as LM
from mcp_synaptic_spark.operators import similarity as S
from mcp_synaptic_spark.operators.retrieval import bm25_search
from mcp_synaptic_spark.state import manifest as M

_PLANES = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".brp_cache", "brp_seed42_d64_t3.json"
)
QUERY = "dup hash join vector"


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet").select("vec_id", "embedding")


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text", "lang")


@pytest.fixture(scope="module")
def planes():
    with open(_PLANES) as f:
        return json.load(f)


def _queries(emb):
    return emb.where(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _manifest(path):
    with open(os.path.join(path, M.MANIFEST)) as f:
        return json.load(f)


def _orphans(path):
    live = {d for dirs in _manifest(path)["parts"].values() for d in dirs}
    return {d for d in os.listdir(path) if d.startswith("d-")} - live


def _crash_then_retry(monkeypatch, path, write, probe):
    """Run ``write`` with the publish raising, check the index reads as
    before and the crashed run left orphans, then retry it for real and
    check the retry's publish removed them."""
    with open(os.path.join(path, M.MANIFEST), "rb") as f:
        manifest_before = f.read()
    before = probe()

    def crash(self, manifest):
        raise RuntimeError("simulated crash before publish")

    monkeypatch.setattr(M.Commit, "publish", crash)
    with pytest.raises(RuntimeError, match="simulated crash"):
        write()
    monkeypatch.undo()
    with open(os.path.join(path, M.MANIFEST), "rb") as f:
        assert f.read() == manifest_before
    orphans = _orphans(path)
    assert orphans, "the crashed write left no data behind"
    assert probe() == before
    write()
    assert not orphans & set(os.listdir(path)) and not _orphans(path)


def _two_writers(*writes, timeout=600):
    errors = []

    def run(write):
        try:
            write()
        except Exception as e:  # re-raised below, in the test's thread
            errors.append(e)

    threads = [threading.Thread(target=run, args=(w,)) for w in writes]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout)
    assert not any(t.is_alive() for t in threads), "a writer did not finish"
    if errors:
        raise errors[0]


def test_writer_lock_serializes_read_modify_write(tmp_path):
    """The lock alone, without Spark: more threads than cores each read the
    live manifest and publish it with a counter incremented, under a short
    switch interval. A lost update (two writers publishing from the same
    read) leaves the counter short; the lock admits none."""
    import sys

    fam = M.Family("counter", "v1", "test")
    path = str(tmp_path / "idx")
    with fam.commit(path) as c:
        c.publish({"n": 0, "parts": {}})

    def bump():
        for _ in range(25):
            with fam.commit(path) as c:
                m = c.require()
                c.publish({**m, "n": m["n"] + 1})

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        _two_writers(*[bump] * 8, timeout=120)
    finally:
        sys.setswitchinterval(interval)
    assert fam.load(path)["n"] == 200
    assert [e for e in os.listdir(path) if ".tmp-" in e] == []


# --- BRP-LSH -------------------------------------------------------------

def _brp_probe(spark, emb, path):
    idx, pl, bl = S.mllib_lsh_index_load(spark, path)
    return _rows(S.mllib_lsh_topk_indexed(_queries(emb), idx, pl, k=5, bucket_length=bl, id_col="vec_id"))


def test_brp_append_crash_is_invisible_and_retry_lands_once(spark, emb, planes, tmp_path, monkeypatch):
    base, batch = emb.where(F.col("vec_id") % 5 != 0), emb.where(F.col("vec_id") % 5 == 0)
    path = str(tmp_path / "brp")
    S.mllib_lsh_index_write(base, path, planes, id_col="vec_id")
    _crash_then_retry(
        monkeypatch, path,
        lambda: S.mllib_lsh_index_append(batch, path, id_col="vec_id"),
        lambda: _brp_probe(spark, emb, path),
    )
    assert len(_manifest(path)["appended_fps"]) == 1
    full = str(tmp_path / "brp_full")
    S.mllib_lsh_index_write(emb, full, planes, id_col="vec_id")
    assert _brp_probe(spark, emb, path) == _brp_probe(spark, emb, full)


def test_brp_two_writers_both_land(spark, emb, planes, tmp_path):
    path = str(tmp_path / "brp")
    S.mllib_lsh_index_write(emb.where(F.col("vec_id") % 3 == 0), path, planes, id_col="vec_id")
    _two_writers(*[
        lambda r=r: S.mllib_lsh_index_append(emb.where(F.col("vec_id") % 3 == r), path, id_col="vec_id")
        for r in (1, 2)
    ])
    assert len(_manifest(path)["appended_fps"]) == 2 and not _orphans(path)
    full = str(tmp_path / "brp_full")
    S.mllib_lsh_index_write(emb, full, planes, id_col="vec_id")
    assert _brp_probe(spark, emb, path) == _brp_probe(spark, emb, full)


# --- IVF -----------------------------------------------------------------

def _ivf_probe(spark, emb, path):
    idx, cents = S.ivf_index_load(spark, path)
    return _rows(S.ivf_topk(_queries(emb), idx, cents, k=5, nprobe=len(cents), id_col="vec_id"))


def _ivf_rebuilt_probe(emb, path):
    """The probe over the whole corpus under the index's centroids: with
    every cell probed the result is exact top-k, so any index holding
    exactly these vectors must return it."""
    cents = _manifest(path)["centroids"]
    frame = S._argmin_cell(emb, cents, "embedding")
    return _rows(S.ivf_topk(_queries(emb), frame, cents, k=5, nprobe=len(cents), id_col="vec_id"))


def _ivf_ids(spark, path):
    idx, _ = S.ivf_index_load(spark, path)
    return sorted(r[0] for r in idx.select(F.explode("ids")).collect())


def test_ivf_append_crash_is_invisible_and_retry_lands_once(spark, emb, tmp_path, monkeypatch):
    base, batch = emb.where(F.col("vec_id") % 5 != 0), emb.where(F.col("vec_id") % 5 == 0)
    path = str(tmp_path / "ivf")
    S.ivf_index_write(base, path, n_cells=4, id_col="vec_id")
    _crash_then_retry(
        monkeypatch, path,
        lambda: S.ivf_index_append(batch, path, id_col="vec_id"),
        lambda: _ivf_probe(spark, emb, path),
    )
    assert len(_manifest(path)["appended_fps"]) == 1
    assert _ivf_ids(spark, path) == sorted(r[0] for r in emb.select("vec_id").collect())
    assert _ivf_probe(spark, emb, path) == _ivf_rebuilt_probe(emb, path)


def test_ivf_two_writers_both_land(spark, emb, tmp_path):
    path = str(tmp_path / "ivf")
    S.ivf_index_write(emb.where(F.col("vec_id") % 3 == 0), path, n_cells=4, id_col="vec_id")
    _two_writers(*[
        lambda r=r: S.ivf_index_append(emb.where(F.col("vec_id") % 3 == r), path, id_col="vec_id")
        for r in (1, 2)
    ])
    assert len(_manifest(path)["appended_fps"]) == 2 and not _orphans(path)
    assert _ivf_ids(spark, path) == sorted(r[0] for r in emb.select("vec_id").collect())
    assert _ivf_probe(spark, emb, path) == _ivf_rebuilt_probe(emb, path)


# --- BM25 ----------------------------------------------------------------

def test_bm25_two_writers_both_land(spark, docs, tmp_path):
    """Each append reads the manifest its predecessor published, so neither
    batch's generation nor its stats update is lost."""
    path = str(tmp_path / "bm25")
    B.bm25_index_write(docs.where(F.col("doc_id") % 3 == 0), path)
    _two_writers(*[
        lambda r=r: B.bm25_index_append(docs.where(F.col("doc_id") % 3 == r), path)
        for r in (1, 2)
    ])
    _, meta = B.bm25_index_load(spark, path)
    assert meta["n_docs"] == docs.count() and len(meta["gens"]) == 2
    full = str(tmp_path / "bm25_full")
    B.bm25_index_write(docs, full)
    _, meta_full = B.bm25_index_load(spark, full)
    assert (meta["sum_dl"], meta["avgdl"]) == (meta_full["sum_dl"], meta_full["avgdl"])
    for q in (QUERY, "the data memory"):
        got = [tuple(r) for r in B.bm25_search_indexed(spark, path, q, k=10).collect()]
        assert got == [tuple(r) for r in B.bm25_search_indexed(spark, full, q, k=10).collect()]
        assert got == [tuple(r) for r in bm25_search(docs, q, k=10).collect()]


# --- dedup index ---------------------------------------------------------

def _dedup_probe(spark, docs, path):
    arrivals = docs.where(F.col("doc_id") % 7 == 0).select(
        (F.col("doc_id") + 100_000).alias("doc_id"), "text"
    )
    return _rows(D.dedup_incremental(None, arrivals, index=D.dedup_index_load(spark, path)))


def test_dedup_append_crash_is_invisible_and_retry_lands_once(spark, docs, tmp_path, monkeypatch):
    base, batch = docs.where(F.col("doc_id") % 2 == 0), docs.where(F.col("doc_id") % 2 == 1)
    path = str(tmp_path / "dedup")
    D.dedup_index_write(base, path)
    _crash_then_retry(
        monkeypatch, path,
        lambda: D.dedup_index_append(batch, path),
        lambda: _dedup_probe(spark, docs, path),
    )
    assert len(_manifest(path)["appended_fps"]) == 1
    full = str(tmp_path / "dedup_full")
    D.dedup_index_write(docs, full)
    assert _dedup_probe(spark, docs, path) == _dedup_probe(spark, docs, full)


def test_dedup_two_writers_both_land(spark, docs, tmp_path):
    path = str(tmp_path / "dedup")
    D.dedup_index_write(docs.where(F.col("doc_id") % 3 == 0), path)
    _two_writers(*[
        lambda r=r: D.dedup_index_append(docs.where(F.col("doc_id") % 3 == r), path)
        for r in (1, 2)
    ])
    assert len(_manifest(path)["appended_fps"]) == 2 and not _orphans(path)
    full = str(tmp_path / "dedup_full")
    D.dedup_index_write(docs, full)
    assert _dedup_probe(spark, docs, path) == _dedup_probe(spark, docs, full)


# --- LM tables -----------------------------------------------------------

def _lm_probe(spark, docs, path):
    return _rows(LM.perplexity(docs.where(F.col("doc_id") % 4 == 0), lm=LM.lm_load(spark, path)))


def test_lm_write_crash_is_invisible_and_retry_lands_once(spark, docs, tmp_path, monkeypatch):
    """The LM tables have no append: a rewrite is their one write, and a
    crash inside it leaves the previous tables loading whole."""
    old = LM.train_bigram_lm(docs.where(F.col("doc_id") % 2 == 0))
    new = LM.train_bigram_lm(docs.where(F.col("doc_id") % 2 == 1))
    path, ref = str(tmp_path / "lm"), str(tmp_path / "lm_ref")
    LM.lm_write(old, path)
    LM.lm_write(new, ref)
    _crash_then_retry(monkeypatch, path, lambda: LM.lm_write(new, path), lambda: _lm_probe(spark, docs, path))
    assert _lm_probe(spark, docs, path) == _lm_probe(spark, docs, ref)


def test_lm_two_writers_publish_whole_tables(spark, docs, tmp_path):
    """Two concurrent rewrites: the tables that load afterwards are exactly
    one writer's — never a mix of both writers' parts."""
    tabs = [LM.train_bigram_lm(docs.where(F.col("doc_id") % 2 == r)) for r in (0, 1)]
    refs = []
    for i, t in enumerate(tabs):
        refs.append(str(tmp_path / f"lm_ref{i}"))
        LM.lm_write(t, refs[-1])
    path = str(tmp_path / "lm")
    _two_writers(*[lambda t=t: LM.lm_write(t, path) for t in tabs])
    assert not _orphans(path)
    assert _lm_probe(spark, docs, path) in [_lm_probe(spark, docs, r) for r in refs]


# --- legacy layouts ------------------------------------------------------

_LOADERS = {
    "bm25_index_load": (lambda spark, df, p: B.bm25_index_load(spark, p), "bm25_index_write"),
    "bm25_search_indexed": (lambda spark, df, p: B.bm25_search_indexed(spark, p, "dup"), "bm25_index_write"),
    "bm25_index_append": (lambda spark, df, p: B.bm25_index_append(df, p), "bm25_index_write"),
    "mllib_lsh_index_load": (lambda spark, df, p: S.mllib_lsh_index_load(spark, p), "mllib_lsh_index_write"),
    "mllib_lsh_index_append": (lambda spark, df, p: S.mllib_lsh_index_append(df, p), "mllib_lsh_index_write"),
    "ivf_index_load": (lambda spark, df, p: S.ivf_index_load(spark, p), "ivf_index_write"),
    "ivf_index_append": (lambda spark, df, p: S.ivf_index_append(df, p), "ivf_index_write"),
    "dedup_index_load": (lambda spark, df, p: D.dedup_index_load(spark, p), "dedup_index_write"),
    "dedup_index_append": (lambda spark, df, p: D.dedup_index_append(df, p), "dedup_index_write"),
    "lm_load": (lambda spark, df, p: LM.lm_load(spark, p), "lm_write"),
}


@pytest.mark.parametrize("loader", sorted(_LOADERS))
def test_directory_without_manifest_is_not_an_index(spark, tmp_path, loader):
    """An index directory in a pre-protocol layout (its own `_meta.json`,
    no `_index.json`) is refused by every loader and append, with the
    writer that builds it named."""
    call, writer = _LOADERS[loader]
    path = tmp_path / "old"
    path.mkdir()
    (path / "_meta.json").write_text(json.dumps({"n_docs": 1, "format": "rep-v2"}))
    df = spark.createDataFrame([(1, "a b", [1.0, 0.0])], "id long, text string, embedding array<double>")
    with pytest.raises(FileNotFoundError, match=f"no .* index .* build it with {writer}"):
        call(spark, df, str(path))
