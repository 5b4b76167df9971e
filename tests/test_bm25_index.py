"""Persisted BM25 index (operators/bm25_index.py): probe == the per-query
bm25_search bit-for-bit, partition pruning actually prunes, the staleness
guard rebuilds on corpus change, and k1/b stay query-time parameters."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from mcp_synaptic_spark.operators.bm25_index import (
    bm25_index_load,
    bm25_index_write,
    bm25_search_indexed,
)
from mcp_synaptic_spark.operators.retrieval import bm25_search
from mcp_synaptic_spark.state import manifest as M

QUERY = "dup hash join vector"


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    return spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))


@pytest.fixture(scope="module")
def index_path(spark, docs, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("bm25") / "idx")
    bm25_index_write(docs, path)
    return path


def _rows(df):
    return [tuple(r) for r in df.collect()]


def test_probe_matches_per_query_form(spark, docs, index_path):
    direct = bm25_search(docs, QUERY, k=10)
    probed = bm25_search_indexed(spark, index_path, QUERY, k=10)
    assert probed.columns == direct.columns == ["doc_id", "bm25", "n_terms_matched"]
    assert _rows(probed) == _rows(direct)


def test_probe_matches_on_single_rare_term_and_other_params(spark, docs, index_path):
    # k1/b are query-time: the SAME index serves any parameterization
    for q, k1, b in [("dup", 1.2, 0.75), ("the data memory", 1.6, 0.4)]:
        direct = bm25_search(docs, q, k=5, k1=k1, b=b)
        probed = bm25_search_indexed(spark, index_path, q, k=5, k1=k1, b=b)
        assert _rows(probed) == _rows(direct), (q, k1, b)


def test_unmatched_terms_contribute_zero(spark, docs, index_path):
    # a term absent from the corpus must not shift scores of the rest
    direct = bm25_search(docs, QUERY + " zzzznotaword", k=10)
    probed = bm25_search_indexed(spark, index_path, QUERY + " zzzznotaword", k=10)
    assert _rows(probed) == _rows(direct)


def test_empty_query_raises(spark, index_path):
    with pytest.raises(ValueError):
        bm25_search_indexed(spark, index_path, "   ")


def test_postings_scan_is_partition_pruned(spark, index_path):
    plan = bm25_search_indexed(spark, index_path, QUERY, k=10)._jdf.queryExecution().executedPlan().toString()
    # directory-level pruning on the term-hash bucket + term pushdown
    assert "PartitionFilters" in plan
    assert "bucket" in plan
    assert "PushedFilters" in plan


def test_staleness_guard_rebuilds_on_corpus_change(spark, docs, tmp_path):
    path = str(tmp_path / "idx")
    half = docs.where(F.col("doc_id") % 2 == 0)
    bm25_index_write(half, path)
    _, meta_half = bm25_index_load(spark, path)
    # same corpus: no-op reuse (meta object unchanged)
    bm25_index_write(half, path)
    _, meta_again = bm25_index_load(spark, path)
    assert meta_again == meta_half
    # regenerated/grown corpus: the guard rebuilds instead of serving stale
    bm25_index_write(docs, path)
    probed = bm25_search_indexed(spark, path, QUERY, k=10)
    assert _rows(probed) == _rows(bm25_search(docs, QUERY, k=10))


def test_staleness_guard_catches_same_count_content_change(spark, docs, tmp_path):
    """ADVICE r9: a regenerated corpus with an UNCHANGED doc count slipped
    the old (n_docs, n_buckets) guard and served stale postings. The
    content fingerprint in the manifest must force the rebuild."""
    path = str(tmp_path / "idx")
    bm25_index_write(docs, path)
    mutated = docs.withColumn(
        "text",
        F.when(F.col("doc_id") == 0, F.lit("zzzznewword only here")).otherwise(
            F.col("text")
        ),
    )
    bm25_index_write(mutated, path)  # same n_docs — fp must differ
    probed = bm25_search_indexed(spark, path, "zzzznewword", k=5)
    assert _rows(probed) == _rows(bm25_search(mutated, "zzzznewword", k=5))
    assert len(_rows(probed)) == 1


def test_staleness_guard_catches_even_multiplicity_regeneration(spark, tmp_path):
    """ADVICE r10: the old bit_xor fingerprint was a weak multiset hash —
    any (id, content) row occurring an EVEN number of times cancelled out,
    so two different corpora made of doubled rows both fingerprinted to 0
    with equal n_docs and the guard served stale postings. The sum fold
    carries multiplicity, so the regeneration must rebuild."""
    path = str(tmp_path / "idx")
    a = spark.createDataFrame(
        [(0, "alpha alpha beta"), (0, "alpha alpha beta"),
         (1, "gamma delta"), (1, "gamma delta")],
        "doc_id long, text string",
    )
    b = spark.createDataFrame(
        [(0, "zzzznewword here"), (0, "zzzznewword here"),
         (1, "epsilon zeta"), (1, "epsilon zeta")],
        "doc_id long, text string",
    )
    bm25_index_write(a, path)
    bm25_index_write(b, path)  # same n_docs, all-even multiplicities
    # a stale (corpus-a) index has no posting for the b-only term at all;
    # per-query score parity is out of scope here — duplicated ids are
    # outside the index's unique-id contract, the guard just must rebuild
    probed = bm25_search_indexed(spark, path, "zzzznewword", k=5)
    rows = _rows(probed)
    assert len(rows) == 1 and rows[0][0] == 0


def test_dl_denormalized_and_df_consistent(spark, docs, index_path):
    postings, meta = bm25_index_load(spark, index_path)
    # dl rides every posting row: exactly one distinct dl per doc
    bad = postings.groupBy("id").agg(F.countDistinct("dl").alias("n")).where("n > 1").count()
    assert bad == 0
    # df(term) == distinct docs holding it (postings are (term, id)-unique)
    dup = postings.groupBy("term", "id").count().where("count > 1").count()
    assert dup == 0
    assert meta["n_docs"] == docs.count()


def test_append_probe_equals_rebuild(spark, docs, tmp_path):
    """r15 (VERDICT r14 #5): an appended BM25 index must probe
    BYTE-IDENTICAL to a full rebuild over base ∪ batch — postings are
    additive per doc, df derives from postings at probe time, and the
    manifest's exact integer sum_dl makes the incremental avgdl reproduce
    F.avg over the union bit-for-bit. Also pins: replay no-op, overlap
    drop (re-added ids must not inflate df), and that an idempotent
    re-run of the BASE write does not rebuild over the appends."""
    from mcp_synaptic_spark.operators.bm25_index import bm25_index_append

    base = docs.where(F.col("doc_id") % 5 != 0)
    batch = docs.where(F.col("doc_id") % 5 == 0)
    path = str(tmp_path / "idx_app")
    bm25_index_write(base, path)
    info = bm25_index_append(batch, path)
    assert info["skipped"] is False and info["n_overlap"] == 0
    assert info["n_appended"] == info["n_batch"] == batch.count()

    rebuilt = str(tmp_path / "idx_full")
    bm25_index_write(docs, rebuilt)
    for q, k1, b in [(QUERY, 1.2, 0.75), ("the data memory", 1.6, 0.4)]:
        got = _rows(bm25_search_indexed(spark, path, q, k=10, k1=k1, b=b))
        want = _rows(bm25_search_indexed(spark, rebuilt, q, k=10, k1=k1, b=b))
        assert got == want and got, (q, k1, b)
    # and both equal the per-query form over the union corpus
    assert _rows(bm25_search_indexed(spark, path, QUERY, k=10)) == _rows(
        bm25_search(docs, QUERY, k=10)
    )

    # manifest stats equal a native full build's (avgdl bit-for-bit)
    _, meta_app = bm25_index_load(spark, path)
    _, meta_full = bm25_index_load(spark, rebuilt)
    assert meta_app["n_docs"] == meta_full["n_docs"]
    assert meta_app["sum_dl"] == meta_full["sum_dl"]
    assert meta_app["avgdl"] == meta_full["avgdl"]
    assert meta_app["corpus_fp"] == meta_full["corpus_fp"]

    # replay no-op: same batch fingerprint touches nothing
    def _files(p):
        return {
            os.path.join(r, nm): os.path.getmtime(os.path.join(r, nm))
            for r, _d, ns in os.walk(p)
            for nm in ns
        }

    snap = _files(path)
    again = bm25_index_append(batch, path)
    assert again["skipped"] is True and _files(path) == snap

    # an idempotent re-run of the BASE write must not rebuild over appends
    bm25_index_write(base, path)
    assert _files(path) == snap
    # nor a write of the full union corpus (additive fingerprint matches).
    # r16: a no-op certified by the exact fingerprint may REFRESH the
    # manifest's src_snapshots list (the metadata-only short-circuit for
    # the next call) — data files must stay untouched, and the
    # index-defining manifest fields must be unchanged.
    def _data_files(fs):
        return {p: t for p, t in fs.items() if not p.endswith(M.MANIFEST)}

    with open(os.path.join(path, M.MANIFEST)) as f:
        meta_before = json.load(f)
    bm25_index_write(docs, path)
    assert _data_files(_files(path)) == _data_files(snap)
    with open(os.path.join(path, M.MANIFEST)) as f:
        meta_after = json.load(f)
    for k in ("n_docs", "sum_dl", "avgdl", "corpus_fp", "gens", "n_buckets", "parts"):
        assert meta_after.get(k) == meta_before.get(k), k
    # and the refreshed snapshot makes the NEXT identical call zero-touch
    snap2 = _files(path)
    bm25_index_write(docs, path)
    assert _files(path) == snap2


def test_append_overlap_drops_readded_ids(spark, docs, tmp_path):
    """A batch that re-adds already-indexed doc ids must not double their
    postings (which would silently inflate probe-time df for every shared
    term): the append drops them and reports n_overlap; the probe still
    equals a set-union rebuild."""
    from mcp_synaptic_spark.operators.bm25_index import bm25_index_append

    base = docs.where(F.col("doc_id") % 5 != 0)
    fresh = docs.where(F.col("doc_id") % 5 == 0)
    batch = fresh.unionByName(base.limit(15))
    path = str(tmp_path / "idx_ovl")
    bm25_index_write(base, path)
    info = bm25_index_append(batch, path)
    assert info["n_overlap"] == 15
    assert info["n_appended"] == fresh.count()

    # no doc id occurs twice in the doc-grain part
    _, meta = bm25_index_load(spark, path)
    dupes = (
        M.frame(spark, path, meta["parts"]["docs"])
        .groupBy("id").count().where(F.col("count") > 1).count()
    )
    assert dupes == 0

    rebuilt = str(tmp_path / "idx_ovl_full")
    bm25_index_write(docs, rebuilt)
    assert _rows(bm25_search_indexed(spark, path, QUERY, k=10)) == _rows(
        bm25_search_indexed(spark, rebuilt, QUERY, k=10)
    )


def test_append_requires_new_format_manifest(spark, docs, tmp_path):
    """A directory holding an index without the `_index.json` manifest (the
    layout of an earlier release) is not an index: append, load and probe
    fail loudly with the rebuild instruction instead of reading it."""
    from mcp_synaptic_spark.operators.bm25_index import bm25_index_append

    path = str(tmp_path / "idx_old")
    bm25_index_write(docs.where(F.col("doc_id") % 2 == 0), path)
    os.rename(os.path.join(path, M.MANIFEST), os.path.join(path, "_meta.json"))
    for call in (
        lambda: bm25_index_append(docs.where(F.col("doc_id") % 2 == 1), path),
        lambda: bm25_index_load(spark, path),
        lambda: bm25_search_indexed(spark, path, QUERY),
    ):
        with pytest.raises(FileNotFoundError, match="build it with bm25_index_write"):
            call()


def test_appended_index_probe_still_partition_prunes(spark, docs, tmp_path):
    """Appends write into existing bucket partitions, so the probe's
    directory-level pruning and term pushdown must survive index growth."""
    from mcp_synaptic_spark.operators.bm25_index import bm25_index_append

    path = str(tmp_path / "idx_prune")
    bm25_index_write(docs.where(F.col("doc_id") % 5 != 0), path)
    bm25_index_append(docs.where(F.col("doc_id") % 5 == 0), path)
    plan = (
        bm25_search_indexed(spark, path, QUERY, k=10)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "PartitionFilters" in plan and "bucket" in plan
    assert "PushedFilters" in plan


def test_append_crash_before_manifest_commit_is_invisible_and_retryable(
    spark, docs, tmp_path, monkeypatch
):
    """Crash-safety: a batch's generation directories are invisible until
    the manifest naming them is published, so a crash after the data
    writes but before the publish (raised inside the protocol) leaves the
    manifest, probes and stats exactly as they were; the RETRY lands the
    batch once (probe == full rebuild, no double postings, no df
    inflation) and its publish removes the crashed run's orphan
    directories."""
    from mcp_synaptic_spark.operators.bm25_index import bm25_index_append

    base = docs.where(F.col("doc_id") % 5 != 0)
    batch = docs.where(F.col("doc_id") % 5 == 0)
    path = str(tmp_path / "idx_crash")
    bm25_index_write(base, path)
    with open(os.path.join(path, M.MANIFEST), "rb") as f:
        pre_append = f.read()
    before = _rows(bm25_search_indexed(spark, path, QUERY, k=10))

    def crash(self, manifest):
        raise RuntimeError("simulated crash before publish")

    monkeypatch.setattr(M.Commit, "publish", crash)
    with pytest.raises(RuntimeError, match="simulated crash"):
        bm25_index_append(batch, path)
    monkeypatch.undo()
    with open(os.path.join(path, M.MANIFEST), "rb") as f:
        assert f.read() == pre_append
    _, meta = bm25_index_load(spark, path)
    live = {d for dirs in meta["parts"].values() for d in dirs}
    orphans = {d for d in os.listdir(path) if d.startswith("d-")} - live
    assert len(orphans) == 3  # one per part, never named
    assert _rows(bm25_search_indexed(spark, path, QUERY, k=10)) == before

    # retry lands exactly once; probe == full rebuild; orphans are gone
    info = bm25_index_append(batch, path)
    assert info["skipped"] is False and info["n_appended"] == batch.count()
    _, meta = bm25_index_load(spark, path)
    assert len(meta["gens"]) == 1 and meta["appended_fps"] and len(meta["appended_fps"]) == 1
    assert not orphans & set(os.listdir(path))
    rebuilt = str(tmp_path / "idx_crash_full")
    bm25_index_write(docs, rebuilt)
    assert _rows(bm25_search_indexed(spark, path, QUERY, k=10)) == _rows(
        bm25_search_indexed(spark, rebuilt, QUERY, k=10)
    )


def test_write_noop_runs_zero_spark_jobs(spark, docs, tmp_path):
    """r16: the staleness guard's metadata-only short-circuit — a repeated
    idempotent bm25_index_write over an unchanged parquet-backed corpus runs
    ZERO Spark jobs (the declared probe query used to pay a full corpus
    content fingerprint scan on every call)."""
    path = str(tmp_path / "idx_zero")
    bm25_index_write(docs, path)  # build; records the source snapshot
    sc = spark.sparkContext
    sc.setJobGroup("bm25-noop-guard", "no-op write must be metadata-only")
    try:
        bm25_index_write(docs, path)
        jobs = sc.statusTracker().getJobIdsForGroup("bm25-noop-guard")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert list(jobs) == []
    # a changed corpus (same files + different filter = different plan)
    # must NOT take the short-circuit: it falls to the exact fingerprint
    # and rebuilds
    bm25_index_write(docs.where(F.col("doc_id") % 2 == 0), path)
    _, meta = bm25_index_load(spark, path)
    assert meta["n_docs"] == docs.where(F.col("doc_id") % 2 == 0).count()


def test_df_sidecar_matches_postings_counts(spark, docs, index_path):
    """r16: the per-term df sidecar must equal counting the postings —
    the probe injects these values as idf literals, so a drift here would
    silently skew every score."""
    from mcp_synaptic_spark.operators.bm25_index import _load_full

    postings, termdf, _meta = _load_full(spark, index_path)
    assert termdf is not None
    want = {
        r["term"]: r["n"]
        for r in postings.groupBy("term").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    got = {
        r["term"]: r["df"]
        for r in termdf.groupBy("term").agg(F.sum("df").alias("df")).collect()
    }
    assert got == want


def test_bucket_choice_folds_into_the_scan_with_no_lookup_job(spark, index_path):
    """Each query term's bucket is spelled pmod(xxhash64('<term>'), n), the
    build's own JVM hash, and folds to an integer literal in the scans'
    PartitionFilters: building a probe runs only the df lookup (an
    aggregate: its shuffle stage and its result are a job each under
    adaptive execution), never a bucket lookup, even for terms no probe
    has seen."""
    sc = spark.sparkContext
    query = "qqbucketnever seenterm dup"
    sc.setJobGroup("bm25-bucket-fold", "probe build")
    try:
        probe = bm25_search_indexed(spark, index_path, query, k=5)
        jobs = sc.statusTracker().getJobIdsForGroup("bm25-bucket-fold")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(jobs) == 2
    plan = probe._jdf.queryExecution().executedPlan().toString()
    want = sorted({
        r[0] for r in spark.createDataFrame([(t,) for t in query.split()], "term string")
        .select(F.pmod(F.xxhash64("term"), F.lit(64)).cast("int")).collect()
    })
    pruned = plan[plan.index("PartitionFilters: ["):].split("]")[0]
    assert "xxhash64" not in pruned and "bucket" in pruned, pruned
    assert all(str(b) in pruned for b in want), (want, pruned)
