"""ANN tier tests: recall of hyperplane-LSH / MLlib-LSH / IVF against the
exact brute-force baseline (operators/rag.py) on the driver's embeddings."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from mcp_synaptic_spark.operators import rag as R
from mcp_synaptic_spark.operators import similarity as S
from mcp_synaptic_spark.sources.tables import load_table
import pytest

K = 5
_BRP_FIXTURE = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".brp_cache", "brp_seed42_d64_t3.json"
)


def _corpus_and_queries(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings").select(
        F.col("vec_id").alias("id"), F.col("embedding")
    )
    queries = emb.where(F.col("id") % 100 == 0).select(
        F.col("id").alias("qid"), F.col("embedding").alias("qvec")
    )
    return emb, queries


def _exact_topk(emb, queries):
    return {
        (r.qid, r.id)
        for r in R.batch_topk_join(queries, emb, k=K).collect()
    }


def _recall(approx_rows, exact_pairs):
    approx = {(r.qid, r.id) for r in approx_rows}
    return len(approx & exact_pairs) / len(exact_pairs)


def test_hyperplane_lsh_recall(spark, sf_dir):
    emb, queries = _corpus_and_queries(spark, sf_dir)
    exact = _exact_topk(emb, queries)
    approx = S.lsh_topk_join(queries, emb, dim=64, k=K, n_planes=4, multiprobe=True).collect()
    # this corpus is near-orthogonal (true-neighbor cos ≈ 0.3) — the hard
    # case for sign-LSH: P(bucket match) ≈ (1−θ/π)^p. At p=4 with Hamming-1
    # multiprobe the expected recall is ~0.5-0.7; clustered corpora do far
    # better. The exact tier (rag.batch_topk_join) remains the default.
    assert _recall(approx, exact) >= 0.4
    # self-match must always survive (identical vector ⇒ identical bucket)
    qids = {r.qid for r in approx}
    for q in qids:
        assert (q, q) in {(r.qid, r.id) for r in approx}


def test_hyperplane_lsh_deterministic(spark, sf_dir):
    emb, queries = _corpus_and_queries(spark, sf_dir)
    a = sorted(map(tuple, S.lsh_topk_join(queries, emb, dim=64, k=K, seed=7).collect()))
    b = sorted(map(tuple, S.lsh_topk_join(queries, emb, dim=64, k=K, seed=7).collect()))
    assert a == b


def test_mllib_lsh_recall(spark, sf_dir):
    emb, queries = _corpus_and_queries(spark, sf_dir)
    exact = _exact_topk(emb, queries)
    approx = S.mllib_lsh_topk(queries, emb, k=K, num_hash_tables=4).collect()
    assert _recall(approx, exact) >= 0.5


def test_brp_plane_fixture_matches_live_model(spark):
    """The committed .brp_cache fixture must equal the projection vectors a
    freshly-fit BucketedRandomProjectionLSH(seed=42, dim=64, tables=3)
    produces — the ann_mllib_lsh oracle embeds the fixture as literals, so
    drift here (a Spark upgrade changing the seeded RNG stream) would
    silently break the oracle's bucket replay. JSON round-trips float64
    exactly ⇒ exact equality."""
    import json

    from pyspark.ml.feature import BucketedRandomProjectionLSH
    from pyspark.ml.linalg import Vectors

    with open(_BRP_FIXTURE) as f:
        fixture = json.load(f)

    df = spark.createDataFrame(
        [(Vectors.dense([float(i == j) for i in range(64)]),) for j in range(4)],
        ["features"],
    )
    model = BucketedRandomProjectionLSH(
        inputCol="features", outputCol="hashes", bucketLength=1.0, numHashTables=3, seed=42
    ).fit(df)
    live = [[float(x) for x in v.toArray()] for v in model._java_obj.randUnitVectors()]
    assert live == fixture


def test_ivf_recall_and_probe_scaling(spark, sf_dir):
    emb, queries = _corpus_and_queries(spark, sf_dir)
    exact = _exact_topk(emb, queries)
    indexed, centroids = S.ivf_build(emb, n_cells=8)
    few = S.ivf_topk(queries, indexed, centroids, k=K, nprobe=2).collect()
    all_probe = S.ivf_topk(queries, indexed, centroids, k=K, nprobe=8).collect()
    # probing every cell ≡ exact brute force
    assert _recall(all_probe, exact) == 1.0
    # fewer probes trade recall for scan cost, but never below the cell that
    # contains the query itself
    assert _recall(few, exact) >= 0.3


def test_ivf_cells_partition_prune(spark, sf_dir, tmp_path):
    """The IVF scale path: cells written as parquet partitions ⇒ an nprobe
    query scans only the probed cells (PartitionFilters, not a corpus scan)."""
    from pyspark.sql import functions as F

    from mcp_synaptic_spark.operators.similarity import ivf_build

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    indexed, centroids = ivf_build(emb, n_cells=4, id_col="vec_id")
    out = str(tmp_path / "ivf")
    indexed.write.partitionBy("cell").parquet(out)

    back = spark.read.parquet(out)
    probed = back.where(F.col("cell").isin([0, 1]))
    plan = probed._jdf.queryExecution().executedPlan().toString()
    # partition filter present, and only the probed cells' files are read
    assert "PartitionFilters" in plan and "cell" in plan
    n_cells_read = {r.cell for r in probed.select("cell").distinct().collect()}
    assert n_cells_read <= {0, 1}
    # and the pruned read is consistent with the unpruned table
    assert probed.count() == back.where(F.col("cell").isin([0, 1])).count() > 0


def test_auto_index_sizing():
    """Scale-adaptive index parameters (VERDICT r5 #3/#6): cells ≈ √N,
    planes ≈ log2(N/target_bucket) — constants only via explicit opt-in."""
    assert S.auto_n_cells(0) == 1
    assert S.auto_n_cells(2) == 2          # never exceeds N (KMeans k ≤ N)
    assert S.auto_n_cells(100) == 10
    assert S.auto_n_cells(1_000_000) == 1000
    assert S.auto_n_cells(10**10) == 65536  # hi clamp
    assert S.auto_n_planes(100) == 4        # lo clamp
    assert S.auto_n_planes(2000) == 7       # == pinned _LSH_PLANES at bench SF
    assert S.auto_n_planes(10**9, target_bucket_size=16) == 20  # hi clamp
    # bucket occupancy stays ~target as N scales 1000×
    for n in (10**4, 10**6, 10**7):
        p = S.auto_n_planes(n)
        if p < 20:
            assert 8 <= n / 2**p <= 32


def test_mllib_lsh_indexed_matches_fit_path(spark, sf_dir, tmp_path):
    """The persisted-index probe (mllib_lsh_topk_indexed) must return the
    exact rows the fit-per-call path returns for the same planes: the BRP
    fit is only a plane draw (data-independent, committed fixture), so the
    build/probe split may not change a single (qid, id, score, rank)."""
    import json

    with open(_BRP_FIXTURE) as f:
        planes = json.load(f)

    emb, queries = _corpus_and_queries(spark, sf_dir)
    fit_rows = sorted(
        (r.qid, r.id, r.score, r.rank)
        for r in S.mllib_lsh_topk(queries, emb, k=K, num_hash_tables=3, seed=42).collect()
    )

    path = str(tmp_path / "brp_index")
    S.mllib_lsh_index_write(emb, path, planes)
    indexed, loaded_planes, bl = S.mllib_lsh_index_load(spark, path)
    assert loaded_planes == planes and bl == 1.0
    idx_rows = sorted(
        (r.qid, r.id, r.score, r.rank)
        for r in S.mllib_lsh_topk_indexed(queries, indexed, loaded_planes, k=K, bucket_length=bl).collect()
    )
    assert idx_rows == fit_rows

    # idempotence: rewriting the SAME corpus is a no-op (same recorded meta)
    S.mllib_lsh_index_write(emb, path, planes)
    again, _, _ = S.mllib_lsh_index_load(spark, path)
    assert again.count() == indexed.count()
    # staleness guard: a changed corpus (different row count) forces a rebuild
    S.mllib_lsh_index_write(emb.limit(1), path, planes)
    rebuilt, _, _ = S.mllib_lsh_index_load(spark, path)
    assert rebuilt.count() == 1


@pytest.mark.volume
def test_rep_grain_index_byte_identical_on_dup_heavy_corpus(spark, sf_dir, tmp_path):
    """r13 rep-grain indexes (VERDICT r12 next-round #1, note 117b): on a
    corpus with heavy vector duplication the persisted BRP and IVF indexes
    store ONE row per distinct vector (the collapse gate fires) and every
    probe — BRP top-k, IVF top-k, IVF-SQ8 top-k, SemDeDup — returns exactly
    the rows the per-id (full-grain) pipeline returns. Mirrors
    test_embedding_collapse_byte_identical_to_uncollapsed for the index
    tiers."""
    import json

    from pyspark.sql import functions as F

    with open(_BRP_FIXTURE) as f:
        planes = json.load(f)

    base = spark.read.parquet(f"{sf_dir}/embeddings.parquet").limit(300)
    rep = 8
    emb = base.selectExpr(
        f"explode(sequence(0, {rep - 1})) as copy", "vec_id", "embedding"
    ).select(
        (F.col("vec_id") * 10 + F.col("copy")).alias("vec_id"), "embedding"
    )
    n_distinct = base.select("embedding").distinct().count()
    queries = base.limit(3).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    k = 3 * rep  # force top-k across member-group boundaries

    # --- BRP: rep-grain index == fit-per-call over the full corpus --------
    brp_path = str(tmp_path / "brp")
    S.mllib_lsh_index_write(emb, brp_path, planes, id_col="vec_id")
    bidx, bplanes, bl = S.mllib_lsh_index_load(spark, brp_path)
    assert bidx.count() == n_distinct, "collapse gate did not fire on the index"
    got_brp = sorted(
        (r.qid, r.vec_id, r.score, r.rank)
        for r in S.mllib_lsh_topk_indexed(
            queries, bidx, bplanes, k=k, bucket_length=bl, id_col="vec_id"
        ).collect()
    )
    want_brp = sorted(
        (r.qid, r.vec_id, r.score, r.rank)
        for r in S.mllib_lsh_topk(
            queries, emb, k=k, num_hash_tables=3, seed=42, id_col="vec_id"
        ).collect()
    )
    assert got_brp == want_brp

    # --- IVF: rep-grain persisted probe == per-id in-memory probe ---------
    ivf_path = str(tmp_path / "ivf")
    cents = S.ivf_index_write(emb, ivf_path, n_cells=8, id_col="vec_id")
    indexed, cents2 = S.ivf_index_load(spark, ivf_path)
    assert cents2 == cents and "ids" in indexed.columns
    assert indexed.count() == n_distinct
    full_grain, cents3 = S.ivf_build(emb, n_cells=8, id_col="vec_id")
    assert cents3 == cents  # same fit: full-document grain both times
    probe = lambda frame: sorted(  # noqa: E731
        (r.qid, r.vec_id, r.score, r.rank)
        for r in S.ivf_topk(queries, frame, cents, k=k, nprobe=3, id_col="vec_id").collect()
    )
    assert probe(indexed) == probe(full_grain)

    # --- IVF-SQ8: same equality through the quantized re-rank -------------
    probe_q = lambda frame: sorted(  # noqa: E731
        (r.qid, r.vec_id, r.score, r.rank)
        for r in S.ivf_quantized_topk(
            queries, frame, cents, k=k, nprobe=3, id_col="vec_id"
        ).collect()
    )
    assert probe_q(indexed) == probe_q(full_grain)

    # --- SemDeDup: rep-grain input == exploded full-grain input -----------
    sem = lambda frame, **kw: sorted(  # noqa: E731
        (r.vec_id, r.cell, r.centroid_sim, r.removed)
        for r in S.semantic_dedup(frame, cents, threshold=0.9, **kw).collect()
    )
    assert sem(indexed) == sem(full_grain)
    # the member-level audit arm agrees too (rep input explodes up front)
    assert sem(indexed, collapse_exact=False) == sem(full_grain, collapse_exact=False)
    # replicas actually get removed (each distinct vector keeps min id only)
    removed = sum(1 for _, _, _, rm in sem(indexed) if rm)
    assert removed >= emb.count() - n_distinct

    # --- duplicated QUERY side: probe at distinct-qvec grain ----------------
    # (r13 `_collapse_query_side`): each query vector arrives under 8 qids;
    # per-qid output must equal the unduplicated run's rows verbatim
    q_dup = queries.selectExpr(
        f"explode(sequence(0, {rep - 1})) as copy", "qid", "qvec"
    ).select((F.col("qid") * 100 + F.col("copy")).alias("qid"), "qvec")
    for fn in (
        lambda q: S.ivf_topk(q, indexed, cents, k=k, nprobe=3, id_col="vec_id"),
        lambda q: S.ivf_quantized_topk(q, indexed, cents, k=k, nprobe=3, id_col="vec_id"),
        lambda q: S.mllib_lsh_topk_indexed(
            q, bidx, bplanes, k=k, bucket_length=bl, id_col="vec_id"
        ),
        lambda q: S.lsh_topk_join(q, emb, dim=64, k=k, n_planes=4, id_col="vec_id"),
    ):
        single = {}
        for r in fn(queries).collect():
            single.setdefault(r.qid, []).append((r.vec_id, r.score, r.rank))
        dup = {}
        for r in fn(q_dup).collect():
            dup.setdefault(r.qid, []).append((r.vec_id, r.score, r.rank))
        assert set(dup) == {q * 100 + c for q in single for c in range(rep)}
        for qid, rows in dup.items():
            assert sorted(rows) == sorted(single[qid // 100]), qid

    # --- an index of another kind is refused loudly -----------------------
    import pytest

    with pytest.raises(FileNotFoundError, match="no ivf index .* build it with ivf_index_write"):
        S.ivf_index_load(spark, brp_path)
    with pytest.raises(FileNotFoundError, match="no brp index .* build it with mllib_lsh_index_write"):
        S.mllib_lsh_index_load(spark, ivf_path)


def test_ivf_sampled_fit_gate_and_determinism(spark, sf_dir, tmp_path, monkeypatch):
    """r13: above _IVF_FIT_SAMPLE_FLOOR rows the coarse-quantizer KMeans
    trains on a seeded subsample (FAISS practice). Pinned: (a) at fixture
    scale the gate does NOT fire — the fit input is the full corpus, so
    committed centroids are unchanged (same cents as an explicit full
    build); (b) with the floor forced low the sampled build is
    deterministic (same seed → same centroids) and still assigns every
    replica of a vector to one cell."""
    from pyspark.sql import functions as F

    base = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select("vec_id", "embedding")
    assert base.count() < S._IVF_FIT_SAMPLE_FLOOR  # fixture corpora: full fit
    # double the corpus (shifted ids) so n=1000 clears the 256*k=512 target
    emb = base.unionByName(
        base.select((F.col("vec_id") + 700_000).alias("vec_id"), "embedding")
    )
    full1 = S.ivf_build(emb, n_cells=2, id_col="vec_id")[1]

    # force the gate: with the floor dropped, fit target = 256*2 = 512 < 1000
    monkeypatch.setattr(S, "_IVF_FIT_SAMPLE_FLOOR", 64)
    sampled1 = S.ivf_build(emb, n_cells=2, id_col="vec_id")[1]
    sampled2, cents2 = S.ivf_build(emb, n_cells=2, id_col="vec_id")
    assert sampled1 == cents2  # seeded sample → deterministic fit
    assert sampled1 != full1  # the gate actually fired under the low floor
    # identical vectors still co-assign under sampled centroids: a dup-heavy
    # corpus collapses to rep grain, so each distinct vector gets ONE row
    # (and therefore one cell) by construction
    dup = emb.limit(200).selectExpr("explode(sequence(0, 7)) as copy", "vec_id", "embedding").select(
        (F.col("vec_id") * 10 + F.col("copy")).alias("vec_id"), "embedding"
    )
    assigned, _ = S._ivf_build_reps(dup, n_cells=8, id_col="vec_id")
    assert assigned.where(F.size("ids") > 1).count() > 0
    monkeypatch.undo()


# --- semantic_dedup (SemDeDup, arXiv:2303.09540) ---------------------------


def _semantic_fixture(spark):
    # cell 0 centroid → +x, cell 1 centroid → +y; dim 4
    centroids = [[1.0, 0.0, 0.0, 0.0], [0.0, 1.0, 0.0, 0.0]]
    rows = [
        # cell 0: 10/11 nearly parallel (cos≈1) — 11 is closer to the
        # centroid (higher centroid_sim) so 11 is the removed one
        (10, [1.0, 0.2, 0.0, 0.0], 0),
        (11, [1.0, 0.1, 0.0, 0.0], 0),
        # cell 0: orthogonal-ish survivor
        (12, [0.5, 0.0, 1.0, 0.0], 0),
        # cell 1: high-cos pair vs 10 would exist ACROSS cells — but
        # SemDeDup is cell-local by design, so 20 survives
        (20, [1.0, 0.2, 0.0, 0.001], 1),
        # cell 1: exact tie on centroid_sim → larger id removed
        (21, [0.0, 1.0, 0.3, 0.0], 1),
        (22, [0.0, 1.0, 0.0, 0.3], 1),
    ]
    indexed = spark.createDataFrame(
        rows, "vec_id INT, embedding ARRAY<DOUBLE>, cell INT"
    )
    return indexed, centroids


def test_semantic_dedup_keeps_low_centroid_sim_member(spark):
    from mcp_synaptic_spark.operators.similarity import semantic_dedup

    indexed, centroids = _semantic_fixture(spark)
    out = {r.vec_id: r for r in semantic_dedup(indexed, centroids, threshold=0.95).collect()}
    assert len(out) == 6  # one row per input vector, always
    assert not out[10].removed and out[11].removed  # 11 is centroid-closer
    assert out[11].centroid_sim > out[10].centroid_sim
    assert not out[12].removed
    # cross-cell near-dup (10 vs 20) is invisible by design
    assert not out[20].removed
    # |cos(21, 22)| = 1/1.09 ≈ 0.917 < 0.95 → neither removed at 0.95
    assert not out[21].removed and not out[22].removed


def test_semantic_dedup_tie_removes_larger_id(spark):
    from mcp_synaptic_spark.operators.similarity import semantic_dedup

    indexed, centroids = _semantic_fixture(spark)
    # at 0.9, (21, 22) pair triggers; both have centroid_sim
    # 1/√1.09 — the rounded tie removes the larger id (22)
    out = {r.vec_id: r for r in semantic_dedup(indexed, centroids, threshold=0.9).collect()}
    assert out[21].centroid_sim == out[22].centroid_sim
    assert not out[21].removed and out[22].removed


def test_semantic_dedup_from_persisted_index(spark, sf_dir, tmp_path):
    """End-to-end from the real build/probe split: write an IVF index, load
    it, and run SemDeDup off the loaded frame + stored centroids — removed
    count is deterministic and the removal set is consistent (a removed
    vector's remover must itself exist)."""
    import mcp_synaptic_spark.operators.similarity as S

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    path = str(tmp_path / "ivf")
    S.ivf_index_write(emb, path, n_cells=8, id_col="vec_id")
    indexed, centroids = S.ivf_index_load(spark, path)
    out = S.semantic_dedup(indexed, centroids, threshold=0.4)
    rows = out.collect()
    assert len(rows) == emb.count()
    removed = [r for r in rows if r.removed]
    assert removed, "threshold 0.4 must remove something on this corpus"
    # survivors must cover every cell that had members
    cells_all = {r.cell for r in rows}
    cells_kept = {r.cell for r in rows if not r.removed}
    assert cells_kept == cells_all, "a whole cell vanished — keep rule broken"


def test_semantic_dedup_collapse_equals_member_level(spark):
    """The exact-duplicate pre-collapse rewrite must produce EXACTLY the
    member-level pair pass's output — seeded random corpus with planted
    identical cliques, near-dup groups across cliques, and a zero-vector
    clique (whose guard-zeroed cosine pairs with nothing at positive
    thresholds)."""
    import random

    from mcp_synaptic_spark.operators.similarity import semantic_dedup

    rng = random.Random(7)
    dim = 8
    rows = []
    vid = 0
    for cell in range(4):
        for g in range(6):
            vec = [rng.gauss(0.0, 1.0) for _ in range(dim)]
            # near-dup twin group: same direction, tiny perturbation
            for m in range(rng.choice([1, 1, 2, 4])):
                v = list(vec) if m == 0 else [x + rng.gauss(0.0, 1e-3) for x in vec]
                rows.append((vid, v, cell))
                vid += 1
            # exact-duplicate clique of the base vector
            for _ in range(rng.choice([0, 2, 5])):
                rows.append((vid, list(vec), cell))
                vid += 1
    # zero-vector clique in one cell
    for _ in range(3):
        rows.append((vid, [0.0] * dim, 1))
        vid += 1
    indexed = spark.createDataFrame(rows, "vec_id INT, embedding ARRAY<DOUBLE>, cell INT")
    centroids = [[1.0 if i == c else 0.0 for i in range(dim)] for c in range(4)]
    for th in (0.999, 0.9, 0.5):
        fast = {
            r.vec_id: (r.cell, r.centroid_sim, r.removed)
            for r in semantic_dedup(indexed, centroids, threshold=th).collect()
        }
        slow = {
            r.vec_id: (r.cell, r.centroid_sim, r.removed)
            for r in semantic_dedup(
                indexed, centroids, threshold=th, collapse_exact=False
            ).collect()
        }
        assert fast == slow, f"collapse mismatch at threshold={th}"
    # zero vectors never pair at positive thresholds: all three survive
    out = {r.vec_id: r.removed for r in semantic_dedup(indexed, centroids, threshold=0.5).collect()}
    assert not any(out[v] for v in range(vid - 3, vid))


# --- SQ8 scalar quantization + ADC search (r8) ------------------------------

def test_quantize_codes_bounded_and_roundtrip_error(spark, sf_dir):
    """Codes live in [0,255]; per-element reconstruction error is bounded by
    scale/2 (the defining property of round-to-nearest scalar quantization)."""
    from pyspark.sql import functions as F

    from mcp_synaptic_spark.operators.similarity import dequantize_expr, quantize_embeddings

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = quantize_embeddings(emb)
    bad = q.where(
        F.exists("qvec", lambda x: (x < 0) | (x > 255))
    ).count()
    assert bad == 0
    joined = q.join(emb, "vec_id").select(
        "vec_id", "scale",
        F.zip_with(
            dequantize_expr(), F.expr("transform(embedding, x -> CAST(x AS DOUBLE))"),
            lambda a, b: F.abs(a - b),
        ).alias("err"),
    )
    viol = joined.where(
        F.exists("err", lambda e: e > F.col("scale") / 2 + 1e-12)
    ).count()
    assert viol == 0


def test_quantize_constant_vector_is_exact(spark):
    from mcp_synaptic_spark.operators.similarity import dequantize_expr, quantize_embeddings

    emb = spark.createDataFrame(
        [(1, [2.5] * 4), (2, [0.0] * 4)], "vec_id LONG, embedding ARRAY<DOUBLE>"
    )
    q = quantize_embeddings(emb)
    rows = {r.vec_id: r for r in q.select("vec_id", "qvec", "vmin", "scale").collect()}
    assert rows[1].qvec == [0, 0, 0, 0] and rows[1].scale == 0.0 and rows[1].vmin == 2.5
    dq = {r.vec_id: r.dv for r in q.select("vec_id", dequantize_expr().alias("dv")).collect()}
    assert dq[1] == [2.5] * 4 and dq[2] == [0.0] * 4


def test_ann_quantized_topk_recall_vs_exact(spark, sf_dir):
    """ADC over SQ8 codes must agree with exact float top-k almost
    everywhere at 8 bits (quantization noise ~1e-2 on unit-ish vectors):
    require >= 8/10 overlap and identical top-3 on the fixture corpus."""
    from pyspark.sql import functions as F

    from mcp_synaptic_spark.operators import rag as R
    from mcp_synaptic_spark.operators.similarity import ann_quantized_topk, quantize_embeddings

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    qrow = emb.where(F.col("vec_id") == 0).select(F.col("embedding").alias("qv"))
    approx = [r.vec_id for r in ann_quantized_topk(quantize_embeddings(emb), qrow, k=10).collect()]
    exact_df = R.rag_search(
        emb.crossJoin(F.broadcast(qrow)), F.col("qv"), id_col="vec_id",
        threshold=0.0, limit=10,
    )
    exact = [r.vec_id for r in exact_df.select("vec_id").collect()]
    assert len(set(approx) & set(exact)) >= 8
    assert approx[:3] == exact[:3]


def test_ivf_sq8_probe_matches_float_probe_cells_and_recall(spark, sf_dir):
    """IVF-SQ8: cell probing uses the EXACT query vector, so the probed
    cells — and hence the candidate set — are identical to float ivf_topk;
    only in-cell scores shift by the bounded code error. Require identical
    candidate membership per query and identical top-1."""
    from pyspark.sql import functions as F

    from mcp_synaptic_spark.operators.similarity import (
        ivf_build,
        ivf_quantized_topk,
        ivf_topk,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    indexed, centroids = ivf_build(emb, n_cells=8, id_col="vec_id", seed=7)
    queries = emb.where(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    exact = ivf_topk(queries, indexed, centroids, k=5, nprobe=2, id_col="vec_id")
    sq8 = ivf_quantized_topk(queries, indexed, centroids, k=5, nprobe=2, id_col="vec_id")
    ex = {}
    for r in exact.collect():
        ex.setdefault(r.qid, []).append((r.rank, r.vec_id))
    qz = {}
    for r in sq8.collect():
        qz.setdefault(r.qid, []).append((r.rank, r.vec_id))
    assert set(ex) == set(qz) and len(ex) > 0
    for qid in ex:
        ids_e = {v for _, v in ex[qid]}
        ids_q = {v for _, v in qz[qid]}
        # same candidate cells → heavy overlap; top-1 (self, cosine ~1) identical
        assert len(ids_e & ids_q) >= 4, qid
        assert min(ex[qid])[1] == min(qz[qid])[1] == qid


def test_ivf_probes_replayed_and_shared_query_vectors(spark, sf_dir, tmp_path):
    """Degenerate query frames on the persisted IVF index, for both IVF
    probes: (a) every (qid, qvec) row replayed 3× returns exactly the rows
    of the unreplayed frame, one per (qid, id); (b) distinct qids carrying
    one vector each get the single-qid run's rows."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    path = str(tmp_path / "ivf")
    S.ivf_index_write(emb, path, n_cells=8, id_col="vec_id")
    indexed, cents = S.ivf_index_load(spark, path)
    queries = emb.where(F.col("vec_id").isin(0, 50, 100)).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    replayed = queries.selectExpr("explode(sequence(1, 3)) AS copy", "qid", "qvec").drop("copy")
    shared = queries.selectExpr(
        "explode(sequence(0, 2)) AS copy", "qid", "qvec"
    ).select((F.col("qid") * 100 + F.col("copy")).alias("qid"), "qvec")
    for fn in (S.ivf_topk, S.ivf_quantized_topk):
        run = lambda q: [  # noqa: E731
            (r.qid, r.vec_id, r.score, r.rank)
            for r in fn(q, indexed, cents, k=7, nprobe=3, id_col="vec_id").collect()
        ]
        single = sorted(run(queries))
        assert len({q for q, *_ in single}) == 3 and len(single) == 21, fn.__name__
        again = run(replayed)
        assert sorted(again) == single, fn.__name__
        assert len({(q, i) for q, i, *_ in again}) == len(again), fn.__name__
        by_qid = {}
        for q, i, s, r in run(shared):
            by_qid.setdefault(q, []).append((q // 100, i, s, r))
        assert set(by_qid) == {q * 100 + c for q, *_ in single for c in range(3)}
        for qid, rows in by_qid.items():
            assert sorted(rows) == [row for row in single if row[0] == qid // 100], qid


def test_ivf_probe_plan_shape_and_cells_match_numpy_oracle(spark, tmp_path):
    """The IVF probe picks each query's nprobe cells by ascending (1 − cos,
    cell) against the centroids, checked against numpy for nprobe 1, 4 and
    every cell. A zero query vector has cos 0 to every centroid (the
    zero-norm guard), so all distances tie and the lowest cell ids win;
    centroid 5 repeats centroid 2, so those two always tie too. The corpus
    holds one row per cell (id = cell), so the returned ids are exactly the
    probed cells. The executed plan of a two-query (batch) probe on a
    persisted index, float and SQ8 alike, has one broadcast (the probe
    list, which also prunes the cell partitions), one hash exchange (the
    rank window) and no posexplode."""
    import numpy as np

    rng = np.random.default_rng(11)
    n_cells, dim = 8, 16
    cents = rng.normal(size=(n_cells, dim))
    cents[5] = cents[2]
    cents = [[float(x) for x in c] for c in cents]
    corpus = spark.createDataFrame(
        [(c, [float(x) for x in rng.normal(size=dim)], c) for c in range(n_cells)],
        "id long, embedding array<double>, cell int",
    )
    qvecs = [rng.normal(size=dim) for _ in range(5)] + [np.zeros(dim), np.asarray(cents[2])]
    queries = spark.createDataFrame(
        [(q, [float(x) for x in v]) for q, v in enumerate(qvecs)], "qid long, qvec array<double>"
    )
    c_np = np.asarray(cents)
    for nprobe in (1, 4, n_cells):
        got = {}
        for r in S.ivf_topk(queries, corpus, cents, k=n_cells, nprobe=nprobe).collect():
            got.setdefault(r.qid, set()).add(r.id)
        for q, v in enumerate(qvecs):
            nq = np.linalg.norm(v)
            cos = np.array([
                0.0 if nq == 0 or np.linalg.norm(c) == 0
                else float(np.dot(c, v)) / (np.linalg.norm(c) * nq)
                for c in c_np
            ])
            want = {int(c) for c in np.lexsort((np.arange(n_cells), 1.0 - cos))[:nprobe]}
            assert got[q] == want, (q, nprobe)
        assert got[5] == set(range(nprobe))  # zero query: every d is 1

    S.ivf_index_write(corpus.drop("cell"), str(tmp_path / "ivf"), n_cells=4)
    indexed, icents = S.ivf_index_load(spark, str(tmp_path / "ivf"))
    two = spark.createDataFrame([(0, cents[0]), (1, cents[1])], "qid long, qvec array<double>")
    for fn in (S.ivf_topk, S.ivf_quantized_topk):
        probe = fn(two, indexed, icents, k=3, nprobe=2)
        plan = probe._jdf.queryExecution().executedPlan().toString()
        assert plan.count("Exchange hashpartitioning") == 1, (fn.__name__, plan)
        assert plan.count("BroadcastExchange") == 1, (fn.__name__, plan)
        assert "posexplode" not in plan, (fn.__name__, plan)
        assert "dynamicpruningexpression(cell" in plan, (fn.__name__, plan)


def _probe_rows(fn, queries, indexed, cents, **kw):
    frame = fn(queries, indexed, cents, id_col="vec_id", **kw)
    return frame.dtypes, sorted(tuple(r) for r in frame.collect())


def test_ivf_one_row_probe_equals_the_batch_plan(spark, sf_dir, tmp_path):
    """A one-row query frame takes the single-statement probe; its rows
    and column types equal the batch plan's rows for that qid, for the
    float and the SQ8 probe. The cases: exact score ties (a vector and its
    double share every cosine, and one rep holds several ids), a vector
    duplicated across two data directories by an additive append, a zero
    query (every centroid equidistant), a query equal to a centroid that
    another cell repeats, and nprobe = n_cells."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").where("vec_id < 300")
    vecs = {r.vec_id: [float(x) for x in r.embedding] for r in emb.collect()}
    base = spark.createDataFrame(
        [(i, v) for i, v in vecs.items()] + [(1000 + i, [2.0 * x for x in vecs[i]]) for i in (3, 7)]
        + [(2000, vecs[5]), (2001, vecs[5])],
        "vec_id long, embedding array<double>",
    )
    path = str(tmp_path / "ivf")
    S.ivf_index_write(base, path, n_cells=6, id_col="vec_id")
    appended = spark.createDataFrame(
        [(3000, vecs[5]), (3001, vecs[5]), (3002, [x + 0.01 for x in vecs[9]])],
        "vec_id long, embedding array<double>",
    )
    assert not S.ivf_index_append(appended, path, id_col="vec_id")["skipped"]
    indexed, cents = S.ivf_index_load(spark, path)
    assert indexed.where(F.array_contains("ids", 3000)).count() == 1
    assert indexed.where(F.array_contains("ids", 2000)).count() == 1

    dim = len(vecs[0])
    qvecs = [vecs[5], [2.0 * x for x in vecs[3]], [0.0] * dim, [x + 0.02 for x in vecs[40]], cents[1]]
    batch = spark.createDataFrame(list(enumerate(qvecs)), "qid long, qvec array<double>")
    for fn in (S.ivf_topk, S.ivf_quantized_topk):
        for nprobe in (2, len(cents)):
            kw = dict(k=6, nprobe=nprobe)
            types, rows = _probe_rows(fn, batch, indexed, cents, **kw)
            for q, v in enumerate(qvecs):
                one = spark.createDataFrame([(q, v)], "qid long, qvec array<double>")
                got_types, got = _probe_rows(fn, one, indexed, cents, **kw)
                assert got_types == types, (fn.__name__, nprobe, q)
                assert got == [r for r in rows if r[0] == q], (fn.__name__, nprobe, q)
                assert sorted(r[3] for r in got) == list(range(1, 7)), (fn.__name__, nprobe, q)
    # the duplicated vector's five ids (two directories) tie and rank by id
    _, top = _probe_rows(S.ivf_topk, batch.limit(1), indexed, cents, k=6, nprobe=2)
    assert [r[1] for r in sorted(top, key=lambda r: r[3])[:5]] == [5, 2000, 2001, 3000, 3001]

    # a centroid repeated as another cell: the query is equidistant from
    # both, and the lowest cell ids win the tie in both plans
    rng = __import__("numpy").random.default_rng(4)
    hand = [[float(x) for x in rng.normal(size=8)] for _ in range(5)]
    hand[4] = hand[1]
    corpus = spark.createDataFrame(
        [([10 * c + j], [float(x) for x in rng.normal(size=8)], c) for c in range(5) for j in range(3)],
        "ids array<bigint>, embedding array<double>, cell int",
    )
    pair = spark.createDataFrame([(0, hand[1]), (1, hand[0])], "qid long, qvec array<double>")
    for fn in (S.ivf_topk, S.ivf_quantized_topk):
        for nprobe in (1, 2, 5):
            types, rows = _probe_rows(fn, pair, corpus, hand, k=4, nprobe=nprobe)
            got_types, got = _probe_rows(fn, pair.limit(1), corpus, hand, k=4, nprobe=nprobe)
            assert (got_types, got) == (types, [r for r in rows if r[0] == 0]), (fn.__name__, nprobe)
    _, cells_1 = _probe_rows(S.ivf_topk, pair.limit(1), corpus, hand, k=3, nprobe=1)
    assert {r[1] // 10 for r in cells_1} == {1}


def _executed_leaves(node):
    """The leaf nodes of an executed plan, through the adaptive wrapper
    and its query stages."""
    name = node.getClass().getName()
    if name.endswith("AdaptiveSparkPlanExec"):
        return _executed_leaves(node.executedPlan())
    if "QueryStage" in name:
        return _executed_leaves(node.plan())
    kids = node.children()
    if kids.length() == 0:
        return [node]
    return [leaf for j in range(kids.length()) for leaf in _executed_leaves(kids.apply(j))]


def test_ivf_one_row_probe_is_one_pruned_job_with_no_exchange(spark, tmp_path):
    """The one-row probe on a persisted index: the query frame is read in
    one job, then the statement runs as one job whose plan has no
    Exchange and no BroadcastExchange, and whose scan reads only the
    nprobe probed cell directories (static partition filter), for the
    float and the SQ8 probe. A one-row frame that reads files takes the
    batch plan with no read, and gives the same rows."""
    import numpy as np

    rng = np.random.default_rng(8)
    corpus = spark.createDataFrame(
        [(i, [float(x) for x in rng.normal(size=16)]) for i in range(400)],
        "id long, embedding array<double>",
    )
    path = str(tmp_path / "ivf")
    S.ivf_index_write(corpus, path, n_cells=8)
    indexed, cents = S.ivf_index_load(spark, path)
    one = spark.createDataFrame([(7, [float(x) for x in rng.normal(size=16)])], "qid long, qvec array<double>")
    sc = spark.sparkContext
    for fn in (S.ivf_topk, S.ivf_quantized_topk):
        group = f"ivf-one-row-{fn.__name__}"
        sc.setJobGroup(group, group)
        try:
            probe = fn(one, indexed, cents, k=5, nprobe=3)
            read_jobs = len(sc.statusTracker().getJobIdsForGroup(group))
            rows = probe.collect()
            jobs = len(sc.statusTracker().getJobIdsForGroup(group))
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        assert (read_jobs, jobs) == (1, 2), fn.__name__
        assert [r.rank for r in rows] == [1, 2, 3, 4, 5] and {r.qid for r in rows} == {7}
        plan = probe._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, (fn.__name__, plan)
        assert "TakeOrderedAndProject" in plan, (fn.__name__, plan)
        assert "PartitionFilters: [isnotnull(cell" in plan and "array_contains(" in plan, plan
        scans = _executed_leaves(probe._jdf.queryExecution().executedPlan())
        assert [n.nodeName() for n in scans] == ["Scan parquet "], fn.__name__
        assert scans[0].metrics().apply("numPartitions").value() == 3, fn.__name__

    # a one-row frame that reads files runs the batch plan, with no read
    one.write.parquet(str(tmp_path / "q"))
    from_files = spark.read.parquet(str(tmp_path / "q"))
    sc.setJobGroup("ivf-file-frame", "probe build")
    try:
        probe = S.ivf_topk(from_files, indexed, cents, k=5, nprobe=3)
        jobs = sc.statusTracker().getJobIdsForGroup("ivf-file-frame")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert jobs == []
    assert "BroadcastExchange" in probe._jdf.queryExecution().executedPlan().toString()
    assert sorted(probe.collect()) == sorted(S.ivf_topk(one, indexed, cents, k=5, nprobe=3).collect())


def test_ivf_cosine_sql_equals_cosine_similarity(spark):
    """`functions.vector.cosine_sql`, the SQL-text cosine the IVF probe and
    the exact rag_search statement use, returns exactly what
    `functions.vector.cosine_similarity` returns, null included: random
    float and double vectors, duplicated vectors, zero vectors on either
    side, a zero vector against a longer or shorter one, and null
    elements."""
    import numpy as np

    from mcp_synaptic_spark.functions.vector import cosine_similarity, cosine_sql

    rng = np.random.default_rng(5)
    rand = lambda n: [float(x) for x in rng.normal(size=n)]  # noqa: E731
    pairs = [(rand(64), rand(64)) for _ in range(40)]
    pairs += [(v, v) for v in (rand(64), rand(3), [1e-300, 2e-300])]
    pairs += [([0.0] * 4, rand(4)), (rand(4), [0.0] * 4), ([0.0] * 4, [0.0] * 4)]
    pairs += [([0.0] * 2, rand(4)), (rand(4), [0.0] * 2), (rand(2), rand(4))]
    pairs += [([1.0, None], [1.0, 2.0]), ([0.0, None], [0.0, 0.0]), ([], [])]
    for dtype in ("float", "double"):
        df = spark.createDataFrame(pairs, f"a array<{dtype}>, b array<{dtype}>")
        rows = df.select(
            F.expr(cosine_sql("a", "b")).alias("sql"),
            cosine_similarity(F.col("a"), F.col("b")).alias("ref"),
        ).collect()
        assert [r.sql for r in rows] == [r.ref for r in rows], dtype
        assert sum(r.ref is None for r in rows) >= 2, dtype  # the null cases ran


def test_mllib_lsh_indexed_probe_plan_is_pruned_single_scan(spark, sf_dir, tmp_path):
    """r9 probe rewrite (VERDICT r8 #6): the plan must show the new shape —
    no corpus explode (Generate), no candidate distinct, and zero data
    shuffles before the final rank window (exactly one non-broadcast
    Exchange)."""
    import pyspark.sql.functions as F

    from mcp_synaptic_spark.operators import similarity as S

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    planes = S._hyperplanes(len(emb.first()["embedding"]), 4, seed=7)
    path = str(tmp_path / "brp")
    S.mllib_lsh_index_write(emb, path, planes, id_col="vec_id")
    indexed, loaded_planes, bl = S.mllib_lsh_index_load(spark, path)
    queries = emb.limit(2).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    out = S.mllib_lsh_topk_indexed(
        queries, indexed, loaded_planes, k=3, bucket_length=bl, id_col="vec_id"
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    # r13 rep grain: exactly TWO Generates, both member-id explodes — the
    # post-verify corpus-member expansion and the query-side fan-out map
    # (broadcast subtree) — never the old ×L per-table corpus explode
    # (which generated before any filter)
    assert plan.count("Generate") == 2, "corpus explode crept back into the probe"
    assert plan.count("Generate explode(ids") == 2, plan
    # no aggregate over CORPUS data (the candidate distinct of the r8 plan):
    # the only aggregates are on the tiny query subtree — the query-collapse
    # collect_list pair (ObjectHashAggregate) and the r14 degenerate-row
    # dropDuplicates pair (plain HashAggregate partial+final, planned twice
    # like the rest of the rep-query subtree)
    assert plan.count("ObjectHashAggregate") == 4, plan
    assert plan.count("HashAggregate") - plan.count("ObjectHashAggregate") == 4, plan
    assert "collect_list(_mid" in plan and "keys=[qid" in plan, plan
    # three hash-partitioned shuffles: the rank window's (the only CORPUS
    # data shuffle) plus two instances of the tiny query-collapse groupBy —
    # the rep-query subtree plans twice, once feeding the probe and once
    # the fan-out map (the dropDuplicates pair adds aggregates but no new
    # exchange: the single-partition query subtree already satisfies its
    # distribution)
    assert plan.count("Exchange hashpartitioning") == 3, plan
    assert "PushedFilters" in plan  # bucket IN-lists reach the parquet scan


# --- ivf_index_append (r14: incremental index growth) ----------------------


def _np_argmin_cells(vectors, centroids):
    """Independent (numpy) nearest-centroid assignment: exact squared-L2
    argmin, first-index tie-break — the rule ivf_index_append applies to
    fresh vectors, reimplemented outside Spark so the test is not circular."""
    import numpy as np

    cents = np.asarray(centroids, dtype="float64")
    out = {}
    for vid, v in vectors:
        d2 = ((cents - np.asarray(v, dtype="float64")) ** 2).sum(axis=1)
        out[vid] = int(d2.argmin())
    return out


@pytest.mark.volume
def test_ivf_index_append_merges_dups_and_assigns_fresh(spark, sf_dir, tmp_path):
    """VERDICT r13 next-round #3 ground truths, for the additive append:
    (a) a batch vector identical to an indexed vector gets a row in THAT
    vector's cell holding only the batch's ids — so no distinct vector ever
    spans two cells, and its member ids stay disjoint across rows; (b) a
    genuinely new vector gets the exact-argmin cell under the STORED
    centroids (verified against an independent numpy argmin); (c) base
    rows are bit-unchanged: the append only adds one new data directory."""
    import os

    from mcp_synaptic_spark.operators import similarity as S

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select("vec_id", "embedding")
    base = emb.where(F.col("vec_id") % 5 != 0)
    # batch: the held-out slice PLUS an exact duplicate of indexed vec_id=1
    # under a fresh id — the known-vector path must fire even if testdata
    # had no cross-slice duplicates
    dup_row = emb.where(F.col("vec_id") == 1).select(
        F.lit(900001).cast("long").alias("vec_id"), "embedding"
    )
    batch = emb.where(F.col("vec_id") % 5 == 0).unionByName(dup_row)

    path = str(tmp_path / "ivf_append")
    S.ivf_index_write(base, path, n_cells=4, id_col="vec_id")
    before, centroids = S.ivf_index_load(spark, path)
    before_rows = {
        tuple(r["ids"]): (tuple(r["embedding"]), r["cell"]) for r in before.collect()
    }
    base_vecs = {v for (v, _c) in before_rows.values()}

    def _files(p):
        return {
            os.path.join(root, nm): os.path.getmtime(os.path.join(root, nm))
            for root, _dirs, names in os.walk(p)
            for nm in names
            if "cell=" in root
        }

    pre_files = _files(path)
    info = S.ivf_index_append(batch, path, id_col="vec_id")
    assert info["skipped"] is False and info["n_batch"] == batch.count()
    assert info["known_reps"] >= 1 and info["fresh_reps"] >= 1
    post_files = _files(path)
    assert {f: t for f, t in post_files.items() if f in pre_files} == pre_files
    new_dirs = {f.split(os.sep)[len(path.split(os.sep))] for f in set(post_files) - set(pre_files)}
    assert len(new_dirs) == 1
    after, centroids2 = S.ivf_index_load(spark, path)
    assert centroids2 == centroids  # append never refits the quantizer
    rows = after.collect()

    # (one-cell invariant) every distinct vector lives in exactly one cell,
    # and no id is listed twice
    cells_of = {}
    for r in rows:
        cells_of.setdefault(tuple(r["embedding"]), set()).add(r["cell"])
    assert all(len(c) == 1 for c in cells_of.values())
    all_ids = [i for r in rows for i in r["ids"]]
    assert len(all_ids) == len(set(all_ids)) == base.count() + batch.count()

    # (a) the planted duplicate sits in vec_id=1's cell, in its own row
    host = [r for r in rows if 900001 in r["ids"]]
    assert len(host) == 1 and host[0]["ids"] == [900001]
    old_host = [(ids, vc) for ids, vc in before_rows.items() if 1 in ids]
    assert host[0]["cell"] == old_host[0][1][1]
    assert tuple(host[0]["embedding"]) == old_host[0][1][0]

    # (b) fresh vectors carry the independent numpy argmin cell
    fresh = [
        (r["vec_id"], r["embedding"])
        for r in batch.collect()
        if tuple(r["embedding"]) not in base_vecs
    ]
    assert fresh, "test corpus left no fresh vectors"
    expect = _np_argmin_cells(fresh, centroids)
    got = {vid: r["cell"] for r in rows for vid in r["ids"]}
    for vid, cell in expect.items():
        assert got[vid] == cell, f"fresh vec {vid}: {got[vid]} != argmin {cell}"

    # (c) every base rep row is still there, unchanged (ids and cell)
    now = {tuple(r["ids"]): (tuple(r["embedding"]), r["cell"]) for r in rows}
    assert all(now.get(ids) == vc for ids, vc in before_rows.items())


@pytest.mark.volume
def test_ivf_index_append_idempotent_and_probe_equivalent(spark, sf_dir, tmp_path):
    """(d) re-appending an absorbed batch is a metadata no-op — the batch
    fingerprint short-circuits before any scan, and the committed parquet
    bytes do not churn; (e) a probe over the appended index is byte-identical
    to the same probe over an independently-merged frame (probe semantics
    can't tell an appended index, whose known vectors get extra rows in
    their cells, from a natively-built one with the same assignment)."""
    import os

    from mcp_synaptic_spark.operators import similarity as S

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select("vec_id", "embedding")
    base = emb.where(F.col("vec_id") % 5 != 0)
    batch = emb.where(F.col("vec_id") % 5 == 0)
    path = str(tmp_path / "ivf_append2")
    S.ivf_index_write(base, path, n_cells=4, id_col="vec_id")
    before, centroids = S.ivf_index_load(spark, path)
    before_rows = [(tuple(r["ids"]), tuple(r["embedding"]), r["cell"]) for r in before.collect()]

    info1 = S.ivf_index_append(batch, path, id_col="vec_id")
    assert info1["skipped"] is False

    def _files(p):
        out = {}
        for root, _dirs, names in os.walk(p):
            for n in names:
                fp = os.path.join(root, n)
                out[fp] = os.path.getmtime(fp)
        return out

    snap = _files(path)
    info2 = S.ivf_index_append(batch, path, id_col="vec_id")
    assert info2["skipped"] is True and info2["known_reps"] == info2["fresh_reps"] == 0
    assert _files(path) == snap  # no parquet/manifest churn on the no-op

    # independent merge: python-side union of member ids per distinct vector,
    # numpy argmin for fresh vectors
    base_by_vec = {v: (list(ids), cell) for ids, v, cell in before_rows}
    merged = {v: (list(ids), cell) for v, (ids, cell) in base_by_vec.items()}
    fresh = []
    for r in batch.collect():
        v = tuple(r["embedding"])
        if v in merged:
            ids, cell = merged[v]
            merged[v] = (sorted(set(ids) | {r["vec_id"]}), cell)
        else:
            fresh.append((r["vec_id"], r["embedding"]))
    # batch-internal duplicates of the same fresh vector share one row
    fresh_cells = _np_argmin_cells(fresh, centroids)
    fresh_by_vec = {}
    for vid, vec in fresh:
        fresh_by_vec.setdefault(tuple(vec), []).append(vid)
    for v, vids in fresh_by_vec.items():
        merged[v] = (sorted(vids), fresh_cells[vids[0]])

    expected = spark.createDataFrame(
        [(ids, list(map(float, v)), cell) for v, (ids, cell) in merged.items()],
        "ids array<bigint>, embedding array<double>, cell int",
    )
    after, _ = S.ivf_index_load(spark, path)
    queries = emb.where(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    got = S.ivf_topk(queries, after, centroids, k=5, nprobe=2, id_col="vec_id")
    want = S.ivf_topk(queries, expected, centroids, k=5, nprobe=2, id_col="vec_id")
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))


def test_ivf_fit_sample_membership_is_layout_independent(spark, sf_dir):
    """ADVICE r13: the coarse-quantizer fit SAMPLE must not depend on the
    scan's split layout — membership is keyed on pmod(xxhash64(id, seed)),
    a pure function of (id, seed), so the fit set is identical however the
    corpus is partitioned (DataFrame.sample, the old mechanism, is only
    deterministic for a FIXED partitioning). The KMeans fit downstream
    keeps MLlib's own partitioning sensitivity; this pins the layer the
    sampling gate added. Also pins the sample size landing near target."""
    from mcp_synaptic_spark.operators import similarity as S

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select("vec_id", "embedding")
    pred = S._fit_sample_pred("vec_id", seed=42, frac=0.5)
    one = {r["vec_id"] for r in emb.repartition(1).where(pred).collect()}
    many = {r["vec_id"] for r in emb.repartition(13).where(pred).collect()}
    assert one == many
    n = emb.count()
    assert 0.35 * n < len(one) < 0.65 * n  # a real ~frac sample, not degenerate


def test_argmin_cell_paths_agree_and_int_ids_stay_long(spark, sf_dir, monkeypatch):
    """r14 review follow-ups: (a) _argmin_cell's two physical shapes — the
    inline SQL-literal fold (fixture k·d) and the broadcast centroid-frame
    min_by join (production k·d, where an O(k·d) SQL literal would be
    hundreds of MB of driver-built text) — must assign every vector
    identically, ties included; (b) _collapse_to_reps must emit
    `ids array<long>` even for an INT id column, else an int-id-built index
    appended with bigint batches mixes parquet physical types (the grp_n
    failure class, note 135)."""
    from mcp_synaptic_spark.operators import similarity as S

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", F.col("embedding").alias("v")
    )
    cents = [
        [float(x) for x in r["v"]]
        for r in emb.orderBy("vec_id").limit(6).collect()
    ]
    lit_path = {
        (r["vec_id"], r["cell"])
        for r in S._argmin_cell(emb, cents, "v").select("vec_id", "cell").collect()
    }
    monkeypatch.setattr(S, "_ARGMIN_LITERAL_MAX_TERMS", 0)
    join_path = {
        (r["vec_id"], r["cell"])
        for r in S._argmin_cell(emb, cents, "v").select("vec_id", "cell").collect()
    }
    monkeypatch.undo()
    assert lit_path == join_path and len(lit_path) == emb.count()

    int_ids = emb.select(F.col("vec_id").cast("int").alias("vec_id"), "v")
    reps, _n, _d = S._collapse_to_reps(int_ids, "vec_id", "v")
    assert dict(reps.dtypes)["ids"] == "array<bigint>"


def test_mllib_lsh_index_append_probe_equals_rebuild(spark, sf_dir, tmp_path):
    """r14: the BRP index append must be PROBE-BYTE-IDENTICAL to a full
    rebuild over (base ∪ batch) with the same planes — the strongest form
    of the append ground truth, available here because the BRP fit is only
    a data-independent plane draw. The batch deliberately contains exact
    duplicates of indexed vectors under new ids (the probe-equivalence of
    unmerged duplicate rep rows is the operator's core claim) plus fresh
    vectors. Also pins: replay no-op (no file churn) and that a subsequent
    idempotent base write does NOT rebuild over the appends."""
    import json
    import os

    from mcp_synaptic_spark.operators import similarity as S

    with open(_BRP_FIXTURE) as f:
        planes = json.load(f)

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select("vec_id", "embedding")
    base = emb.where(F.col("vec_id") % 5 != 0)
    batch = emb.where(F.col("vec_id") % 5 == 0).unionByName(
        emb.where(F.col("vec_id") == 1).select(
            F.lit(900001).cast("long").alias("vec_id"), "embedding"
        )
    )
    path = str(tmp_path / "brp_append")
    S.mllib_lsh_index_write(base, path, planes, id_col="vec_id")
    info = S.mllib_lsh_index_append(batch, path, id_col="vec_id")
    assert info["skipped"] is False and info["appended_reps"] > 0

    rebuilt_path = str(tmp_path / "brp_rebuilt")
    S.mllib_lsh_index_write(base.unionByName(batch), rebuilt_path, planes, id_col="vec_id")

    queries = emb.where(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    got_idx, got_planes, got_bl = S.mllib_lsh_index_load(spark, path)
    want_idx, want_planes, want_bl = S.mllib_lsh_index_load(spark, rebuilt_path)
    assert got_planes == want_planes and got_bl == want_bl
    got = sorted(
        map(tuple, S.mllib_lsh_topk_indexed(
            queries, got_idx, got_planes, k=5, bucket_length=got_bl, id_col="vec_id"
        ).collect())
    )
    want = sorted(
        map(tuple, S.mllib_lsh_topk_indexed(
            queries, want_idx, want_planes, k=5, bucket_length=want_bl, id_col="vec_id"
        ).collect())
    )
    assert got == want and got

    # replay no-op: same batch again touches nothing
    def _files(p):
        return {
            os.path.join(r, nm): os.path.getmtime(os.path.join(r, nm))
            for r, _d, ns in os.walk(p)
            for nm in ns
        }

    snap = _files(path)
    again = S.mllib_lsh_index_append(batch, path, id_col="vec_id")
    assert again["skipped"] is True and _files(path) == snap

    # an idempotent re-run of the BASE write must not rebuild over appends
    # (the manifest's append bookkeeping is not staleness)
    S.mllib_lsh_index_write(base, path, planes, id_col="vec_id")
    still, _, _ = S.mllib_lsh_index_load(spark, path)
    assert still.count() == got_idx.count()


def test_mllib_lsh_index_append_overlap_merge(spark, sf_dir, tmp_path):
    """ADVICE r14: a batch that PARTIALLY re-ingests already-indexed
    (id, vector) pairs (a re-crawl — the whole-batch fingerprint only
    catches exact replays) must not duplicate an id across rep rows, or
    the same id occupies two top-k slots after explode. The append
    anti-joins those pairs out: the appended index probes
    byte-identical to a rebuild over the SET-union corpus, n_overlap
    reports what was dropped, and the manifest's appended_reps occupancy
    gauge tracks accretion."""
    import json

    from mcp_synaptic_spark.operators import similarity as S

    with open(_BRP_FIXTURE) as f:
        planes = json.load(f)

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select("vec_id", "embedding")
    base = emb.where(F.col("vec_id") % 5 != 0)
    fresh = emb.where(F.col("vec_id") % 5 == 0)
    # re-crawl shape: the batch carries fresh vectors PLUS exact replays of
    # already-indexed (id, vector) pairs
    replayed = base.limit(20)
    batch = fresh.unionByName(replayed)

    path = str(tmp_path / "brp_overlap")
    S.mllib_lsh_index_write(base, path, planes, id_col="vec_id")
    info = S.mllib_lsh_index_append(batch, path, id_col="vec_id")
    assert info["skipped"] is False and info["n_overlap"] == 20

    # no id may appear in more than one rep row's member set
    idx, got_planes, bl = S.mllib_lsh_index_load(spark, path)
    dupes = (
        idx.select(F.explode("ids").alias("id"))
        .groupBy("id").count().where(F.col("count") > 1).count()
    )
    assert dupes == 0

    # probe equals a rebuild over the set-union corpus
    rebuilt_path = str(tmp_path / "brp_overlap_rebuilt")
    S.mllib_lsh_index_write(
        base.unionByName(fresh), rebuilt_path, planes, id_col="vec_id"
    )
    queries = emb.where(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    want_idx, _, _ = S.mllib_lsh_index_load(spark, rebuilt_path)
    got = sorted(map(tuple, S.mllib_lsh_topk_indexed(
        queries, idx, got_planes, k=5, bucket_length=bl, id_col="vec_id"
    ).collect()))
    want = sorted(map(tuple, S.mllib_lsh_topk_indexed(
        queries, want_idx, got_planes, k=5, bucket_length=bl, id_col="vec_id"
    ).collect()))
    assert got == want and got

    # occupancy gauge: the manifest records cumulative appended rep rows
    with open(f"{path}/_index.json") as f:
        meta = json.load(f)
    assert meta["appended_reps"] == info["appended_reps"] > 0


def test_ann_id_dtype_validation(spark):
    """ADVICE r14: a non-integral id column must raise loudly instead of
    silently cast("long")-ing to NULL and collapsing every row onto one
    null rep."""
    import pytest

    from mcp_synaptic_spark.operators import similarity as S

    df = spark.createDataFrame(
        [("doc-a", [1.0, 0.0]), ("doc-b", [0.0, 1.0])], "id string, v array<double>"
    )
    with pytest.raises(TypeError, match="integral"):
        S._collapse_to_reps(df, "id", "v")
