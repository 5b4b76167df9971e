"""Approximate nearest-neighbor search at scale (north-star surface).

Three tiers, all returning the same (qid, id, score, rank) shape as the exact
brute-force baseline in operators/rag.py (which remains the correctness
oracle):

1. Random-hyperplane LSH (cosine-native): bucket = sign-bit string of dots
   with p seeded hyperplanes. Candidates share a bucket (multi-probe: or a
   bucket within Hamming 1); exact cosine re-rank within candidates. Pure
   column expressions — no UDFs, no MLlib dependency, deterministic given the
   seed.
2. MLlib BucketedRandomProjectionLSH over L2-normalized vectors (Euclidean
   LSH; after normalization ‖a−b‖² = 2−2cos, so Euclidean NN ≡ cosine NN).
3. IVF (inverted file): KMeans coarse quantizer; queries probe the nprobe
   nearest centroids and re-rank exactly within those cells. The classic
   billion-scale layout: cells are Parquet partitions ⇒ partition pruning
   turns a corpus scan into an nprobe-cell scan. A batch probe is one
   broadcast (each query's cells, chosen by one expression over the
   centroid literal) and one shuffle (the rank window); a one-query probe
   is one statement with the cells as a static partition filter and no
   exchange. SQ8 reuses both over dequantized codes.

At 100 TB: tier 1/3 candidate generation shuffles only (bucket_key, id)
pairs; vectors are re-read only for the candidate set (semi-join pushdown).

Tiers 2 and 3 persist their index (mllib_lsh_index_* / ivf_index_*)
through the index protocol of state/manifest.py: a build or an append
writes fresh data directories and publishes the manifest naming them
under the index's writer lock; appends never rewrite indexed rows.
"""

from __future__ import annotations

import random
from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.vector import as_double, cosine_similarity, cosine_sql, dot, dot_fixed, l2_normalize, norm
from ..state import manifest as M
from .rag import ORDER_DP, ROUND_DP


_INTEGRAL_TYPES = {"tinyint", "smallint", "int", "bigint"}


def _id_as_long(frame: DataFrame, id_col: str):
    """`ids array<long>` is the declared index format (rep-v2), so
    member ids are widened to long before they enter any rep frame. The
    widening is only DEFINED for integral types: a blind cast("long") turns
    a non-integral string id into NULL silently, every query collapses onto
    the one null rep, and the probe returns garbage with no error (ADVICE
    r14). Validate the dtype and fail loudly instead."""
    dtype = dict(frame.dtypes).get(id_col)
    if dtype not in _INTEGRAL_TYPES:
        raise TypeError(
            f"id column {id_col!r} has type {dtype!r}; the ANN index tiers "
            f"require an integral id (one of {sorted(_INTEGRAL_TYPES)}) — "
            "map string/uuid ids to a surrogate long (e.g. xxhash64) before "
            "indexing"
        )
    return F.col(id_col).cast("long")


def _collapse_to_reps(
    emb: DataFrame,
    id_col: str,
    vec_col: str,
    *,
    stats: tuple[int, int] | None = None,
    collapse: bool | str = "auto",
) -> tuple[DataFrame, int, bool]:
    """Distinct-VECTOR grain for the persisted-index tiers (r13, VERDICT r12
    next-round #1 / PLANS note 117b): one row per distinct embedding value,
    carrying ALL member ids as a sorted array — `(ids array<long>, v)`. The
    per-row, data-independent transforms (BRP hashing, IVF cell assignment,
    SQ8 quantization, probe-side cosine/l2 verifies) then run once per
    distinct vector, and the id-level contract is recovered by exploding
    `ids` — no member-map join at all. Byte-safety: identical arrays have
    identical hashes/cells/codes/cosines, so exploding after the transform
    yields exactly the per-id rows the uncollapsed pipeline computed.

    Same measured auto gate as dedup's _exact_collapse (note 120): below
    COLLAPSE_MIN_DUP_FRAC duplication the groupBy shuffle doesn't pay — emit
    identity rows (singleton ids) with no shuffle, same schema either way.
    ``stats`` lets a caller that already paid the count+HLL probe (index
    writers need the row count for their staleness manifests anyway) pass
    it through instead of re-probing. Returns (reps, n_rows, did_collapse);
    n_rows is -1 if unknown (gate pinned and no stats given), did_collapse
    says which physical shape the reps frame took (ADVICE r13: the 3-tuple
    is the real contract — callers that only need the frame unpack
    `reps, _n, _did`).
    """
    from ..util import ensure_parallelism

    from .dedup import _collapse_stats, _should_collapse

    # _id_as_long: `ids array<long>` is the DECLARED index format (rep-v2),
    # and an int-id caller would otherwise persist array<int> — then an
    # append (whose batch side is bigint) would mix parquet physical types
    # across one index's directories: the same
    # PARQUET_COLUMN_DATA_TYPE_MISMATCH class as dedup's grp_n (note 135).
    # Both gate branches cast, so collapse on/off keeps one schema; the
    # dtype validation inside _id_as_long fails loudly on non-integral ids
    # instead of null-collapsing them (ADVICE r14).
    base = ensure_parallelism(emb).select(
        _id_as_long(emb, id_col).alias("_mid"), F.col(vec_col).alias("v")
    )
    n = stats[0] if stats is not None else -1
    if collapse == "auto":
        n, d = stats if stats is not None else _collapse_stats(base, "v")
        collapse = _should_collapse(n, d)
    if not collapse:
        return base.select(F.array("_mid").alias("ids"), "v"), n, False
    return base.groupBy("v").agg(F.sort_array(F.collect_list("_mid")).alias("ids")), n, True


def _collapse_query_side(
    queries: DataFrame, query_id_col: str, query_vec_col: str
) -> tuple[DataFrame, DataFrame | None]:
    """Distinct-vector grain for the QUERY side of the LSH probes (r13):
    batch ANN query sets are themselves corpus slices, so at crawl
    duplication the same query vector arrives under many qids — and every
    probe's per-query work (centroid assignment explode, bucket hashing,
    candidate verify, rank window input) multiplies by that duplication for
    identical results. Collapse to one representative qid per distinct
    vector (same measured auto gate as the corpus side), run the probe at
    rep grain, and fan the FINAL ranked rows back out to every member qid —
    per-qid output for identical vectors is identical by construction, so
    the expansion is byte-exact. Returns (rep_queries, expand): a tiny
    (_qrep → member qid) broadcast map for `_expand_query_side`.

    No duplication gate HERE, unlike the corpus side: query sets are
    broadcast-sized by contract (the BRP probe collects their bucket ids
    driver-side), so the collapse groupBy is a tiny lazy shuffle stage
    inside the main plan — whereas a count+HLL gate probe is a separate
    eager job whose scheduling floor (~0.2-0.5 s at toy scale, measured in
    the r13 interleaved A/B) costs more than the collapse it would skip.

    Degenerate query frames (ADVICE r13): an exactly-repeated (qid, vector)
    row is deduped HERE (the pre-collapse dropDuplicates below — it rides
    the same tiny shuffle stage), restoring the pre-r13 per-(qid, id)
    dedup for replayed query rows. One qid bound to TWO DISTINCT vectors
    remains a caller contract violation — a query id names one vector, as
    in the brute-force rag.py baseline — and would merge both vectors'
    ranked lists under that qid after expansion.

    `ivf_topk` does not collapse: without the collapse's five jobs it ran
    faster on single queries and on duplicated batches alike. Measured on
    a 4-core VM, 5 alternating process pairs, min of passes, median: the
    `tools/scale_bench.py` arm `ann_ivf_probe` at 100× (400 qids carrying 4
    distinct vectors, 447 cells, nprobe 8) 13.0 → 7.3 s; the sf0.1 board
    queries `ann_ivf_topk` 2.00 → 1.06 s, `ann_ivf_sq8_topk` 2.01 → 1.11 s,
    `ann_ivf_append` 2.70 → 1.69 s (every pair won)."""
    reps, _n, did = _collapse_to_reps(
        queries.select(query_id_col, query_vec_col).dropDuplicates(),
        query_id_col,
        query_vec_col,
        collapse=True,
    )
    rep_q = reps.select(
        F.element_at("ids", 1).alias(query_id_col), F.col("v").alias(query_vec_col)
    )
    expand = reps.select(
        F.element_at("ids", 1).alias("_qrep"), F.explode("ids").alias(query_id_col)
    )
    return rep_q, expand


def _expand_query_side(out: DataFrame, expand: DataFrame | None, query_id_col: str) -> DataFrame:
    """Fan per-rep-qid probe results back out to every member qid (see
    `_collapse_query_side`); the rank column is per-qid and identical
    across members, so it rides the expansion untouched."""
    if expand is None:
        return out
    rest = [c for c in out.columns if c != query_id_col]
    return (
        out.withColumnRenamed(query_id_col, "_qrep")
        .join(F.broadcast(expand), "_qrep")
        .select(query_id_col, *rest)
    )


#: The persisted ANN indexes (BRP + IVF) in the index protocol
#: (state/manifest.py). Format "rep-v2" is REP GRAIN (r13): one row per
#: distinct vector with `ids array<long>` (sorted member ids) instead of one
#: row per document — at crawl-corpus duplication the index shrinks by the
#: duplication factor and every probe scans/verifies distinct vectors only.
#: Loaders refuse any other kind or format: silently probing the wrong
#: grain is worse than a rebuild error.
BRP_INDEX = M.Family("brp", "rep-v2", "mllib_lsh_index_write")
IVF_INDEX = M.Family("ivf", "rep-v2", "ivf_index_write")


def _hyperplanes(dim: int, n_planes: int, seed: int) -> list[list[float]]:
    """Deterministic Gaussian hyperplanes (seeded PRNG, driver-side only)."""
    rng = random.Random(seed)
    return [[rng.gauss(0.0, 1.0) for _ in range(dim)] for _ in range(n_planes)]


def auto_n_planes(n_rows: int, *, target_bucket_size: int = 16, lo: int = 4, hi: int = 20) -> int:
    """Corpus-size-derived hyperplane count: 2^p buckets sized so the
    expected bucket holds ~target_bucket_size rows — p ≈ log2(N/target).

    This is the knob that keeps the within-bucket candidate join
    sub-quadratic as N grows: a CONSTANT p at 10⁹ rows puts ~10⁷ rows in
    every bucket and the "bucketed" join goes quadratic-within-bucket
    (VERDICT r5). Recall at a given cosine θ is 1 − (1 − p₁^p)^L with
    p₁ = 1 − acos(θ)/π, so a larger corpus (→ larger p) needs more tables L
    or multiprobe to hold recall — p controls COST, L controls RECALL.
    Clamped to [lo, hi]: 2^20 buckets ≈ 1M is plenty before sharding the
    table itself."""
    import math

    return max(lo, min(hi, math.ceil(math.log2(max(1.0, n_rows / target_bucket_size)))))


def hyperplane_bucket(vec_col, planes: Sequence[Sequence[float]]):
    """Sign-bit bucket id for a vector column: Σ 2^i · [v·pᵢ ≥ 0].

    Pass the column NAME (string) on hot paths: the whole bucket id is then
    built as ONE parsed SQL expression instead of ~70 py4j round-trips per
    plane (measured ~3 s of pure plan construction for 36 plane-dots). The
    SQL text keeps the SAME HOF fold as the Column path — an UNROLLED
    literal-coefficient sum here would put n_planes·dim arithmetic nodes in
    the tree, which blew analysis + codegen up to seconds per query (a
    2304-term projection measured 8.7 s cache fill vs 2.7 s HOF) — and the
    plane literal array constant-folds to one leaf. Same sequential fold ⇒
    same dot values ⇒ identical bucket ids either way."""
    if isinstance(vec_col, str):
        terms = []
        for i, p in enumerate(planes):
            lits = ", ".join(f"CAST({float(x)!r} AS DOUBLE)" for x in p)
            dot_sql = (
                f"aggregate(zip_with(transform(`{vec_col}`, e -> CAST(e AS DOUBLE)), "
                f"array({lits}), (x, y) -> x * y), 0.0D, (acc, x) -> acc + x)"
            )
            terms.append(f"(CASE WHEN {dot_sql} >= 0.0D THEN {2**i}L ELSE 0L END)")
        return F.expr("CAST(0 AS BIGINT) + " + " + ".join(terms))
    v = as_double(vec_col)
    bucket = F.lit(0).cast("long")
    for i, p in enumerate(planes):
        plane = F.array(*[F.lit(float(x)) for x in p])
        bucket = bucket + F.when(dot(v, plane) >= 0, F.lit(2**i)).otherwise(F.lit(0))
    return bucket


def lsh_topk_join(
    queries: DataFrame,
    corpus: DataFrame,
    *,
    dim: int,
    k: int = 10,
    n_planes: int | None = 8,
    seed: int = 42,
    multiprobe: bool = True,
    query_id_col: str = "qid",
    query_vec_col: str = "qvec",
    id_col: str = "id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate per-query top-k via hyperplane-LSH candidate buckets.

    n_planes=None derives the plane count from the corpus size
    (auto_n_planes: ~log2(N/target_bucket)) so bucket occupancy — and with
    it the per-probe candidate cost — stays constant as N grows; the
    explicit default stays at 8 for deterministic committed-oracle queries.

    multiprobe=True also probes the n_planes buckets at Hamming distance 1
    from the query bucket — the standard recall boost that costs
    (n_planes+1)× candidate lookups, not a larger index.

    Physical shape: corpus bucketed once (narrow projection, shuffle on
    bucket only if the join needs it); the join key is (bucket), so the
    corpus never cross-joins the query set. r13: BOTH sides run at
    distinct-vector grain behind the measured duplication gate — corpus
    hashing/candidate-join/cosine per distinct corpus vector (members
    explode back in after the per-(qid, rep) dedup, before the rank
    window), query work per distinct query vector (_collapse_query_side).
    """
    stats = None
    if n_planes is None:
        # ONE count+HLL aggregate serves both the plane-count dial and the
        # collapse gate (the note-120 merged-probe discipline)
        from ..util import ensure_parallelism

        from .dedup import _collapse_stats

        stats = _collapse_stats(
            ensure_parallelism(corpus).select(F.col(vec_col).alias("v")), "v"
        )
        n_planes = auto_n_planes(stats[0])
    planes = _hyperplanes(dim, n_planes, seed)
    # corpus collapse only when the gate probe came free with the plane
    # dial: an explicit n_planes call would pay a separate eager probe job
    # whose toy-scale scheduling floor exceeds the collapse's benefit (the
    # r13 interleaved A/B measured ~0.4 s) — the auto-sized path is the
    # production/scale route and carries the collapse
    c_reps, _n, c_did = _collapse_to_reps(
        corpus, id_col, vec_col, stats=stats, collapse="auto" if stats else False
    )
    c = c_reps.select(
        "ids", F.col("v").alias(vec_col), hyperplane_bucket("v", planes).alias("bucket")
    )

    queries, q_expand = _collapse_query_side(queries, query_id_col, query_vec_col)
    qb = queries.select(
        F.col(query_id_col), F.col(query_vec_col), hyperplane_bucket(query_vec_col, planes).alias("qbucket")
    )
    if multiprobe:
        probes = F.array(F.col("qbucket"), *[F.col("qbucket").bitwiseXOR(F.lit(2**i)) for i in range(len(planes))])
        qb = qb.withColumn("bucket", F.explode(probes))
    else:
        qb = qb.withColumn("bucket", F.col("qbucket"))

    sim = cosine_similarity(F.col(vec_col), F.col(query_vec_col))
    # dedup multiprobe re-matches per (qid, rep) — members of a rep share
    # every bucket, so this equals the old per (qid, id) dedup — then
    # explode member ids before the rank window
    scored = (
        c.join(F.broadcast(qb.select(query_id_col, query_vec_col, "bucket")), "bucket")
        .select(
            F.col(query_id_col),
            F.col("ids"),
            F.round(F.greatest(F.lit(0.0), F.least(F.lit(1.0), sim)), ROUND_DP).alias("score"),
        )
        .dropDuplicates([query_id_col, "ids"])
        .select(query_id_col, F.explode("ids").alias(id_col), "score")
    )
    w = Window.partitionBy(query_id_col).orderBy(F.round(F.col("score"), ORDER_DP).desc(), F.col(id_col).asc())
    out = scored.withColumn("rank", F.row_number().over(w)).where(F.col("rank") <= k)
    return _expand_query_side(out, q_expand, query_id_col)


def mllib_lsh_topk(
    queries: DataFrame,
    corpus: DataFrame,
    *,
    k: int = 10,
    bucket_length: float = 1.0,
    num_hash_tables: int = 3,
    seed: int = 42,
    query_id_col: str = "qid",
    query_vec_col: str = "qvec",
    id_col: str = "id",
    vec_col: str = "embedding",
) -> DataFrame:
    """MLlib BucketedRandomProjectionLSH approximate top-k (cosine via
    L2-normalization). Returns (qid, id, score, rank)."""
    from pyspark.ml.feature import BucketedRandomProjectionLSH
    from pyspark.ml.functions import array_to_vector
    from pyspark.ml.linalg import VectorUDT  # noqa: F401  (schema dependency)

    c = corpus.select(F.col(id_col), array_to_vector(l2_normalize(F.col(vec_col))).alias("features"))
    q = queries.select(
        F.col(query_id_col), array_to_vector(l2_normalize(F.col(query_vec_col))).alias("features")
    )
    lsh = BucketedRandomProjectionLSH(
        inputCol="features", outputCol="hashes", bucketLength=bucket_length, numHashTables=num_hash_tables, seed=seed
    )
    model = lsh.fit(c)
    # threshold 2.0 = the max possible L2 distance between unit vectors
    joined = model.approxSimilarityJoin(q, c, 2.0, distCol="l2")
    # cos = 1 − l2²/2 for unit vectors
    scored = joined.select(
        F.col(f"datasetA.{query_id_col}").alias(query_id_col),
        F.col(f"datasetB.{id_col}").alias(id_col),
        F.round(F.lit(1.0) - F.col("l2") * F.col("l2") / 2.0, ROUND_DP).alias("score"),
    )
    w = Window.partitionBy(query_id_col).orderBy(F.round(F.col("score"), ORDER_DP).desc(), F.col(id_col).asc())
    return scored.withColumn("rank", F.row_number().over(w)).where(F.col("rank") <= k)


def _brp_hash_expr(vn_name: str, plane: Sequence[float], bucket_length: float):
    """MLlib BRP hash for one table, as ONE parsed SQL expression over an
    fp64-normalized vector column NAME: floor(dot(vn, u)/bucketLength)
    (BucketedRandomProjectionLSHModel.hashFunction). HOF fold, not unrolled
    — same tree-size rationale as hyperplane_bucket."""
    lits = ", ".join(f"CAST({float(x)!r} AS DOUBLE)" for x in plane)
    dot_sql = (
        f"aggregate(zip_with(`{vn_name}`, array({lits}), (x, y) -> x * y), "
        f"0.0D, (acc, x) -> acc + x)"
    )
    return F.expr(f"CAST(FLOOR({dot_sql} / CAST({float(bucket_length)!r} AS DOUBLE)) AS BIGINT)")


def mllib_lsh_index_write(
    corpus: DataFrame,
    path: str,
    planes: Sequence[Sequence[float]],
    *,
    bucket_length: float = 1.0,
    id_col: str = "id",
    vec_col: str = "embedding",
    overwrite: bool = False,
) -> None:
    """Persist the BRP-LSH-hashed corpus — the build-once half of the
    build/probe split (same contract as ivf_index_write). At 100 TB the
    expensive half of MLlib's approxSimilarityJoin is re-transforming the
    corpus per query; hashing it ONCE and persisting (vn + one bucket id per
    table) turns every subsequent query into a candidate equi-join against a
    parquet scan. `planes` are the projection unit-vectors (data-independent
    given seed — FIXTURES.md §7), stored in the index manifest
    (state/manifest.py) so the probe side reproduces the identical hash.

    Idempotent with a staleness guard: an existing index at `path`
    (overwrite=False) is reused only while its recorded (row count, planes,
    bucket_length) still match — the planes are data-independent, but the
    hashed CORPUS isn't, and silently serving a stale index against a
    regenerated dataset is exactly the divergence the IVF tier's
    _check_centroids_committed exists to prevent. The row count of an
    appended index is its base build's, so an idempotent base write does
    not rebuild over the appends.
    """
    from ..util import ensure_parallelism, sized_for_write

    from .dedup import _collapse_stats

    planes = [[float(x) for x in p] for p in planes]
    stored = None if overwrite else BRP_INDEX.read(path)
    # The row count runs as its own cheap job (count of the filter columns
    # only — the vectors are never read) BEFORE the count+HLL collapse
    # probe: at index scale the no-op must stay metadata-cheap (r15).
    if (
        stored is not None
        and (stored["planes"], stored["bucket_length"]) == (planes, bucket_length)
        and stored["n_rows"] == corpus.count()
    ):
        return
    # ONE count+HLL aggregate serves both the manifest's row count and the
    # rep-collapse gate (note 120's merged-probe discipline)
    base = ensure_parallelism(corpus).select(
        F.col(id_col).alias("_mid"), F.col(vec_col).alias("v")
    )
    stats = _collapse_stats(base, "v")
    # r13 rep grain: the hash+normalize stage is per-row and data-independent
    # (pure projection of the vector), so it runs once per DISTINCT vector;
    # the written rows carry the member-id arrays. On a dup-free corpus the
    # gate skips the groupBy and this is the full-grain build with an
    # ids=[id] wrapper.
    reps, _n, _did = _collapse_to_reps(corpus, id_col, vec_col, stats=stats)
    hashed = _brp_hashed(reps, planes, bucket_length)
    with BRP_INDEX.commit(path) as c:
        name, data = c.new_dir()
        # file sizing (r16, guide §6): one file per ~_MIN_FILE_BYTES instead
        # of one per compute task — every probe re-opens all of them
        sized_for_write(hashed).write.parquet(data)
        c.publish({
            "planes": planes, "bucket_length": bucket_length, "n_rows": stats[0],
            "parts": {"data": [name]}, "appended_rows": 0, "appended_reps": 0,
            "appended_fps": [],
        })


def _brp_hashed(reps: DataFrame, planes: Sequence[Sequence[float]], bucket_length: float) -> DataFrame:
    """(ids, vn, h0..h{L-1}): rep rows l2-normalized and hashed per table."""
    normalized = reps.select("ids", l2_normalize(F.col("v")).alias("vn"))
    return normalized.select(
        "ids",
        "vn",
        *[_brp_hash_expr("vn", p, bucket_length).alias(f"h{i}") for i, p in enumerate(planes)],
    )


def mllib_lsh_index_load(spark, path: str) -> tuple[DataFrame, list[list[float]], float]:
    """Open a persisted BRP-LSH index → (rep-grain hashed corpus frame,
    planes, bucket_length)."""
    meta = BRP_INDEX.load(path)
    frame = M.frame(spark, path, meta["parts"]["data"])
    return frame, meta["planes"], float(meta["bucket_length"])


def mllib_lsh_index_append(
    new_corpus: DataFrame,
    path: str,
    *,
    id_col: str = "id",
    vec_col: str = "embedding",
) -> dict:
    """Append a batch into a persisted BRP-LSH index — the second half of
    the incremental-growth story beside `ivf_index_append`. The BRP hash of
    a vector is a pure function of (vector, planes, bucket_length), all
    fixed at build time, so an appended rep row carrying a vector that
    ALREADY exists in the index is probe-equivalent to merging it — both
    rows hash identically, survive the bucket prune together, score the
    same l2, and contribute DISJOINT member ids to the same rank window.
    The batch's rep rows go into one new data directory; nothing already
    indexed is rewritten. The rep-grain invariant weakens to
    one-row-per-distinct-vector PER APPEND GENERATION — probe-invisible,
    as argued above, and pinned byte-identical against a full rebuild in
    tests.

    The disjoint-ids clause above is load-bearing, and a batch that
    PARTIALLY re-ingests already-indexed (id, vector) pairs (a re-crawl;
    the whole-batch fingerprint only catches exact replays) would violate
    it: the same id lands in two rep rows, explodes into two identical
    (qid, id, score) rows, and occupies two top-k slots (ADVICE r14). So
    the append drops those pairs before writing: one NARROW index scan
    (ids + vn, never shuffled — the bounded batch key set broadcasts into
    a semi-join and the resulting overlap set, ⊆ batch, broadcasts back
    into the anti-join).

    The new directory goes live when the manifest naming it is published
    under the index's writer lock (state/manifest.py): concurrent appends
    serialize, and a crash before the publish leaves the index as it was.
    Idempotent via the bounded batch fingerprint (`appended_fps`), checked
    before the lock and again under it. `appended_reps` is the
    accreted-occupancy gauge: rep rows for the same vector accumulate
    across generations (probe-correct but never compacted here); when it
    grows large relative to `n_rows`, a rebuild via
    ``mllib_lsh_index_write(..., overwrite=True)`` IS the compaction.
    Returns {"skipped", "n_batch", "appended_reps", "n_overlap"}.
    """
    from ..util import ensure_parallelism, sized_for_write

    from .dedup import _collapse_stat_cols, _should_collapse

    meta = BRP_INDEX.load(path)
    base = ensure_parallelism(new_corpus).select(
        _id_as_long(new_corpus, id_col).alias("_mid"), F.col(vec_col).alias("v")
    )
    probe = base.agg(
        *_collapse_stat_cols("v"),
        F.sum(F.xxhash64(F.col("_mid"), F.col("v")).cast("decimal(38,0)")).alias("fp"),
    ).first()
    n_batch, fp = int(probe["n"]), int(probe["fp"] or 0)
    batch_fp = f"{n_batch}:{fp}"
    skipped = {"skipped": True, "n_batch": n_batch, "appended_reps": 0, "n_overlap": 0}
    if n_batch == 0 or batch_fp in meta["appended_fps"]:
        return skipped

    spark = new_corpus.sparkSession
    with BRP_INDEX.commit(path) as c:
        meta = c.require()
        if batch_fp in meta["appended_fps"]:
            return skipped
        planes, bucket_length = meta["planes"], float(meta["bucket_length"])
        reps, _n, _did = _collapse_to_reps(
            new_corpus, id_col, vec_col,
            stats=(n_batch, int(probe["d"])),
            collapse=_should_collapse(n_batch, int(probe["d"])),
        )
        hashed = _brp_hashed(reps, planes, bucket_length)
        h_cols = [f"h{i}" for i in range(len(planes))]
        members = hashed.select(F.explode("ids").alias("_mid"), "vn", *h_cols)
        batch_keys = members.select("_mid", "vn").distinct()
        # vn is the SAME l2_normalize expression the index writer ran, so an
        # identical input vector reproduces bit-identical doubles and the
        # equality join is exact; the index side is scanned narrow and never
        # shuffled (broadcast semi, then broadcast anti on the overlap set)
        idx_members = M.frame(spark, path, meta["parts"]["data"]).select(
            F.explode("ids").alias("_mid"), "vn"
        )
        overlaps = (
            idx_members.join(F.broadcast(batch_keys), ["_mid", "vn"], "left_semi")
            .distinct()
            .localCheckpoint(eager=True)
        )
        n_overlap = overlaps.count()
        if n_overlap:
            # sized BEFORE the checkpoint (r16 file sizing): the checkpoint
            # materializes the write layout, so this is what lands on disk
            hashed = sized_for_write(
                members.join(F.broadcast(overlaps), ["_mid", "vn"], "left_anti")
                .groupBy("vn", *h_cols)
                .agg(F.sort_array(F.collect_list("_mid")).alias("ids"))
                .select("ids", "vn", *h_cols)
            ).localCheckpoint(eager=True)
        appended_reps = hashed.count()
        dirs = meta["parts"]["data"]
        if appended_reps:
            name, data = c.new_dir()
            # file sizing (r16, guide §6): an O(batch) append must not add
            # one tiny file per compute task to the index every call
            sized_for_write(hashed).write.parquet(data)
            dirs = dirs + [name]
        c.publish({
            **meta,
            "parts": {"data": dirs},
            "appended_rows": meta["appended_rows"] + n_batch,
            "appended_reps": meta["appended_reps"] + appended_reps,
            "appended_fps": M.remember(meta["appended_fps"], batch_fp),
        })
    return {
        "skipped": False, "n_batch": n_batch,
        "appended_reps": appended_reps, "n_overlap": n_overlap,
    }


def mllib_lsh_topk_indexed(
    queries: DataFrame,
    indexed_corpus: DataFrame,
    planes: Sequence[Sequence[float]],
    *,
    k: int = 10,
    bucket_length: float = 1.0,
    threshold: float = 2.0,
    query_id_col: str = "qid",
    query_vec_col: str = "qvec",
    id_col: str = "id",
) -> DataFrame:
    """BRP-LSH top-k against a PERSISTED hashed corpus — no fit, no corpus
    transform in the query path. Bit-compatible with mllib_lsh_topk given
    the same planes (the fit is only a plane draw): candidates are the
    pairs sharing ANY table's bucket (what approxSimilarityJoin's
    hash-entry explode + equi-join produces), then the exact re-rank keeps
    l2 < threshold and scores cos ≡ 1 − l2²/2 over the stored unit vectors.

    Physical shape at scale (rewritten r9 — VERDICT r8 next-round #6: the
    old explode-union-distinct probe ran 157 s at 100× vs IVF's 44 s):
    the query side is tiny by contract, so its per-table bucket ids are
    collected driver-side (ints only — vectors never leave the cluster)
    and turned into ONE pruning predicate `h0 IN (…) OR h1 IN (…) OR …`
    pushed into a single narrow index scan — no ×L corpus explode, no
    candidate distinct, no join-back for vectors (vn rides the same scan).
    Each surviving row then pairs with the broadcast query frame on the
    same any-table-matches condition, evaluating every (doc, query) pair
    exactly once — the distinct the old plan shuffled for is free by
    construction. The only data movement before the final per-qid rank
    window is a small-input-only round-robin fan-out of the pruned rows
    (ensure_parallelism — a sub-256MB index scan otherwise collapses to
    1-2 splits and serializes the verify onto one task; at production
    split counts it is a no-op).
    """
    nt = len(planes)
    queries, q_expand = _collapse_query_side(queries, query_id_col, query_vec_col)
    q = queries.select(
        F.col(query_id_col), l2_normalize(F.col(query_vec_col)).alias("qn")
    ).select(
        query_id_col,
        "qn",
        *[_brp_hash_expr("qn", p, bucket_length).alias(f"qh{i}") for i, p in enumerate(planes)],
    )
    # tiny-by-contract query side: collect the INT bucket ids per table
    # (the rag.py 1-row-stats pattern — never the vectors)
    qh_rows = q.select(*[f"qh{i}" for i in range(nt)]).collect()
    bucket_vals = [sorted({r[f"qh{i}"] for r in qh_rows}) for i in range(nt)]
    prune = F.lit(False)
    for i in range(nt):
        if bucket_vals[i]:
            prune = prune | F.col(f"h{i}").isin(bucket_vals[i])
    any_table_match = F.lit(False)
    for i in range(nt):
        any_table_match = any_table_match | (F.col(f"h{i}") == F.col(f"qh{i}"))
    l2 = F.sqrt(
        F.aggregate(
            F.zip_with(F.col("qn"), F.col("vn"), lambda x, y: (x - y) * (x - y)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )
    # the pruned scan can collapse to 1-2 input splits at sub-maxPartitionBytes
    # index sizes, which would serialize the (candidates × queries) verify
    # onto one task — ensure_parallelism restores core-count fan-out for
    # small-file inputs and is a no-op at production split counts
    from ..util import ensure_parallelism

    # r13 rep grain: the l2 verify runs once per (distinct vector × query);
    # member ids explode back in AFTER the verdict (identical vectors have
    # identical l2, so the exploded (id, score) set is byte-identical to the
    # per-id verify). The explode happens before the rank window — every
    # member competes for top-k exactly as before. A per-id frame (an
    # in-memory hashed corpus that never went through the rep-grain writer)
    # is wrapped into singleton `ids` here — the same 'ids'-presence
    # tolerance the IVF probes have (ADVICE r13); the loader refuses any
    # on-disk index that is not rep grain, where the wrong grain means a
    # stale index.
    if "ids" not in indexed_corpus.columns:
        rest = [c for c in indexed_corpus.columns if c != id_col]
        indexed_corpus = indexed_corpus.select(
            F.array(_id_as_long(indexed_corpus, id_col)).alias("ids"), *rest
        )
    rep_scored = (
        ensure_parallelism(indexed_corpus.where(prune))
        .crossJoin(F.broadcast(q))
        .where(any_table_match)
        .select(
            F.col(query_id_col),
            F.col("ids"),
            F.round(F.lit(1.0) - l2 * l2 / 2.0, ROUND_DP).alias("score"),
            l2.alias("_l2"),
        )
        .where(F.col("_l2") < threshold)
        .drop("_l2")
    )
    scored = rep_scored.select(
        query_id_col, F.explode("ids").alias(id_col), "score"
    )
    w = Window.partitionBy(query_id_col).orderBy(F.round(F.col("score"), ORDER_DP).desc(), F.col(id_col).asc())
    out = scored.withColumn("rank", F.row_number().over(w)).where(F.col("rank") <= k)
    return _expand_query_side(out, q_expand, query_id_col)


def auto_n_cells(n_rows: int, *, lo: int = 4, hi: int = 65536) -> int:
    """Corpus-size-derived IVF cell count: ≈ √N (the standard IVF sizing —
    balances cell-scan cost ~N/cells against centroid-probe cost ~cells;
    both ≈ √N at the optimum). A CONSTANT cell count at 10⁹ vectors puts
    ~10⁸ rows in every cell and the "pruned" probe rescans the corpus
    (VERDICT r5). Clamped: below lo the index is pointless, above hi the
    centroid table itself needs sharding (at hi=2¹⁶ the probe side is a
    ~32 MB broadcast — still broadcastable). Never exceeds the row count
    (KMeans requires k ≤ N)."""
    import math

    return max(1, min(n_rows, max(lo, min(hi, int(math.isqrt(max(1, n_rows)))))))


def ivf_build(
    corpus: DataFrame,
    *,
    n_cells: int | None = None,
    seed: int = 42,
    max_iter: int = 8,
    id_col: str = "id",
    vec_col: str = "embedding",
) -> tuple[DataFrame, list[list[float]]]:
    """Build an IVF index: KMeans centroids + cell assignment per vector.

    n_cells=None derives ≈√N cells from the corpus count (auto_n_cells);
    pass an explicit value only for committed-fixture determinism (the
    per-SF oracle indexes are pinned at their committed sizes).

    Returns (corpus with `cell` column, centroid list). In production, write
    the result partitioned by `cell` — queries then prune to nprobe cells at
    the parquet-partition level.
    """
    assigned, centroids = _ivf_build_reps(
        corpus, n_cells=n_cells, seed=seed, max_iter=max_iter, id_col=id_col, vec_col=vec_col
    )
    return (
        assigned.select(F.explode("ids").alias(id_col), F.col(vec_col), "cell"),
        centroids,
    )


#: Corpus-row threshold above which the IVF coarse-quantizer KMeans trains
#: on a seeded subsample (see _ivf_build_reps). Far above every committed
#: per-SF fixture corpus (≤ ~61k vectors), so graded-path centroids never
#: move; at the 100× artifact tier (6.1M rows, k≈2473) the fit was the
#: whole remaining build cost.
_IVF_FIT_SAMPLE_FLOOR = 1_000_000


def _fit_sample_pred(id_col: str, seed: int, frac: float):
    """Layout-independent Bernoulli-style sample membership: a row is in
    the coarse-quantizer fit set iff pmod(xxhash64(id, seed)) falls under
    the fraction threshold — a pure function of (id, seed), so the fit set
    is identical however the corpus is partitioned or split."""
    denom = 1 << 30
    return F.pmod(F.xxhash64(F.col(id_col), F.lit(seed)), F.lit(denom)) < F.lit(
        int(frac * denom)
    )


def _ivf_build_reps(
    corpus: DataFrame,
    *,
    n_cells: int | None = None,
    seed: int = 42,
    max_iter: int = 8,
    id_col: str = "id",
    vec_col: str = "embedding",
) -> tuple[DataFrame, list[list[float]]]:
    """ivf_build at REP GRAIN (r13, note 117b): the KMeans FIT stays at
    document grain — fitting on distinct vectors would change the weighting
    k-means|| init sees and move every committed centroid fixture — but the
    TRANSFORM (cell assignment) is a pure per-row argmin over the fitted
    centroids, so it runs once per distinct vector and identical vectors
    provably land in the same cell. Returns (`(ids, vec_col, cell)` one row
    per distinct vector, centroids).

    Above `_IVF_FIT_SAMPLE_FLOOR` corpus rows the fit trains on a SEEDED
    uniform sample of ~max(256·k, floor) vectors — the standard
    coarse-quantizer practice (FAISS trains IVF quantizers on a bounded
    subsample: a coarse partitioner needs the density shape, not every
    point). The sample predicate is CONTENT-keyed — pmod(xxhash64(id,
    seed)) below a fraction threshold (_fit_sample_pred) — so MEMBERSHIP
    depends only on (row id, seed), never on the scan's split layout
    (ADVICE r13: `DataFrame.sample` is deterministic only for a fixed
    partitioning, which would let a repartitioned re-read feed a different
    fit set into the persisted centroids). The KMeans fit
    itself retains MLlib's inherent partitioning sensitivity (k-means||
    init draws and fp aggregation order), so full determinism is
    (corpus, layout, seed)-keyed — the predicate removes the sampling
    layer's contribution, the one this module introduced. The floor is far above every
    committed fixture corpus, so fixture centroids are untouched (enforced
    by _check_centroids_committed and the oracle parity gate), and cell
    ASSIGNMENT stays exact per vector under any centroids — replica-recall
    and SemDeDup ground truths are centroid-independent.

    ONE count+HLL aggregate feeds auto_n_cells, the fit-sample gate, AND
    the rep-collapse gate (ADVICE r13 / the note-120 merged-probe
    discipline — the old shape paid feats.count() plus a separate collapse
    probe, two eager jobs per build even with n_cells explicit)."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector, vector_to_array  # noqa: F401

    from ..util import ensure_parallelism

    from .dedup import _collapse_stats

    stats = _collapse_stats(
        ensure_parallelism(corpus).select(
            F.col(id_col).alias("_mid"), F.col(vec_col).alias("v")
        ),
        "v",
    )
    n_rows = stats[0]
    if n_cells is None:
        n_cells = auto_n_cells(n_rows)
    feats = corpus.select(F.col(id_col), F.col(vec_col), array_to_vector(as_double(F.col(vec_col))).alias("features"))
    # a coarse quantizer needs rough cells, not convergence — cap iterations
    km = KMeans(k=n_cells, seed=seed, maxIter=max_iter, featuresCol="features", predictionCol="cell")
    fit_target = max(256 * n_cells, _IVF_FIT_SAMPLE_FLOOR)
    fit_input = feats
    if n_rows > fit_target:
        fit_input = feats.where(_fit_sample_pred(id_col, seed, fit_target / n_rows))
    model = km.fit(fit_input)
    reps, _n, _did = _collapse_to_reps(corpus, id_col, vec_col, stats=stats)
    rep_feats = reps.select(
        "ids", F.col("v").alias(vec_col), array_to_vector(as_double(F.col("v"))).alias("features")
    )
    assigned = model.transform(rep_feats).select("ids", vec_col, "cell")
    centroids = [list(map(float, c)) for c in model.clusterCenters()]
    return assigned, centroids


def ivf_index_write(
    corpus: DataFrame,
    path: str,
    *,
    n_cells: int | None = None,
    seed: int = 42,
    max_iter: int = 8,
    id_col: str = "id",
    vec_col: str = "embedding",
    overwrite: bool = False,
    cells_sidecar: bool = False,
) -> list[list[float]]:
    """Persist the IVF index partitioned by `cell` — the build-once half of
    the build/probe split. Index construction NEVER belongs in the query path
    (it's ETL); queries read the partitioned layout and prune to nprobe cells.

    Idempotent: if an index already exists at `path` (and overwrite=False)
    the build is skipped and the stored centroids are returned, with no lock
    taken and nothing written. The centroids ride in the index manifest
    (state/manifest.py) beside the one data directory a build writes.

    cells_sidecar=True also writes `_cells.json` — the full (id → cell)
    assignment as the INDEX produced it, so a parity oracle can read the
    assignment instead of re-deriving argmin (whose fp rounding can differ
    from MLlib's fastSquaredDistance on near-ties). This is a TEST/ORACLE
    artifact: it collects O(N) ids to the driver, so it stays off by default
    and must never be enabled on a production-scale corpus.
    """
    import os

    spark = corpus.sparkSession
    cells_path = os.path.join(path, "_cells.json")
    stored = None if overwrite else IVF_INDEX.read(path)
    if stored is not None:
        if cells_sidecar and not os.path.exists(cells_path):
            with IVF_INDEX.commit(path) as c:
                _write_cells_sidecar(M.frame(spark, path, c.require()["parts"]["data"]), cells_path, id_col)
        return stored["centroids"]
    assigned, centroids = _ivf_build_reps(
        corpus, n_cells=n_cells, seed=seed, max_iter=max_iter, id_col=id_col, vec_col=vec_col
    )
    # file sizing (r16, guide §6): hash-repartition by cell so each cell
    # directory gets its rows from ONE task — the sf0.1 append index held
    # 2.3 MB in 503 files (~32 per cell), and every probe's pruned scan
    # re-opened each of them
    from ..util import sized_for_write

    with IVF_INDEX.commit(path) as c:
        name, data = c.new_dir()
        sized_for_write(assigned, by="cell").write.partitionBy("cell").parquet(data)
        if cells_sidecar:
            _write_cells_sidecar(spark.read.parquet(data), cells_path, id_col)
        c.publish({"centroids": centroids, "parts": {"data": [name]}, "appended_fps": []})
    return centroids


#: hard cap on the (id, cell) rows the oracle sidecar may pull to the driver.
#: The sidecar is a TEST FIXTURE (off by default — only the DuckDB oracle
#: reads it); on a real corpus the collect below would be a driver OOM, so
#: the cap turns accidental production use into a loud error (VERDICT r10
#: What's-wrong #2).
_CELLS_SIDECAR_MAX_ROWS = 10_000_000


def _write_cells_sidecar(index: DataFrame, cells_path: str, id_col: str) -> None:
    """Dump an index frame's (id, cell) assignment as a JSON sidecar,
    sorted by id for determinism — an ORACLE FIXTURE, not a production
    artifact (gated behind cells_sidecar=False defaults). Reads the written
    parquet back, so the sidecar reflects what the index stores; it is
    written before the manifest that makes those rows live, so a crash in
    between is repaired by the retry. Refuses outright above
    _CELLS_SIDECAR_MAX_ROWS rather than collect a corpus-sized assignment
    to the driver."""
    cells = index.select(F.explode("ids").alias(id_col), "cell")
    n = cells.count()
    if n > _CELLS_SIDECAR_MAX_ROWS:
        raise ValueError(
            f"cells sidecar is a small-corpus oracle fixture: refusing to "
            f"collect {n} (id, cell) rows to the driver "
            f"(cap {_CELLS_SIDECAR_MAX_ROWS}); disable cells_sidecar for "
            f"production indexes"
        )
    M.write_json(cells_path, sorted((int(r[0]), int(r["cell"])) for r in cells.collect()))


def ivf_index_load(spark, path: str) -> tuple[DataFrame, list[list[float]]]:
    """Open a persisted IVF index: (partition-pruned-capable corpus frame,
    centroids). The `cell` partition column comes back as part of the schema;
    joining on it against a broadcast probe list triggers dynamic partition
    pruning, so a probe touches nprobe directories, not the corpus."""
    meta = IVF_INDEX.load(path)
    return M.frame(spark, path, meta["parts"]["data"]), meta["centroids"]


def _centroid_literal_sql(centroids: Sequence[Sequence[float]]) -> str:
    """SQL text of the centroid matrix as ONE constant: a JSON string that
    `from_json` parses and the optimizer folds to the same array<array<double>>
    literal that k·d nested literals give, at the analysis cost of one
    string node. JSON carries each double's round-trip repr, so values are
    exact."""
    import json

    matrix = json.dumps([[float(x) for x in c] for c in centroids])
    return f"from_json('{matrix}', 'array<array<double>>')"


#: centroid-matrix size (k·d doubles) above which _argmin_cell switches from
#: the inline SQL-literal fold to a broadcast centroid-frame join: the
#: literal is O(k·d) characters of SQL text built and parsed on the driver,
#: fine at fixture scale but hundreds of MB at the billion-vector design
#: point (k=2^16, d=768).
_ARGMIN_LITERAL_MAX_TERMS = 262_144


def _argmin_cell(frame: DataFrame, centroids: Sequence[Sequence[float]], vec_name: str) -> DataFrame:
    """Assign each row's `vec_name` vector to its nearest stored centroid by
    exact squared-L2 argmin (ties → smallest cell id) — the assignment rule
    for vectors arriving AFTER the KMeans fit (ivf_index_append).
    Deterministic and engine-portable; near-equidistant vectors may round
    differently than MLlib's fastSquaredDistance, which is semantically fine
    for a FRESH vector (any consistent cell is a valid IVF assignment —
    probes read the assignment from the index itself, and the parity
    oracles read `_cells.json`).

    Two physical shapes, same values: below _ARGMIN_LITERAL_MAX_TERMS the
    centroid matrix rides as ONE constant array literal and the argmin
    folds with HOFs — a narrow projection, no explode, no shuffle. Above
    it (production cell counts) the centroids become a broadcast k-row
    frame: |frame|·k distance rows reduce through one min_by aggregate —
    no O(k·d) SQL text on the driver, and the batch side of an append is
    small by contract so the pair volume is bounded."""
    k = len(centroids)
    dim = len(centroids[0]) if k else 0
    if k * dim <= _ARGMIN_LITERAL_MAX_TERMS:
        cent = _centroid_literal_sql(centroids)
        d2 = (
            f"transform({cent}, c -> aggregate(zip_with(transform(`{vec_name}`, "
            "e -> CAST(e AS DOUBLE)), c, (x, y) -> (x - y) * (x - y)), 0.0D, "
            "(acc, x) -> acc + x))"
        )
        # array_position returns the FIRST index of the minimum → smallest cell
        cell = f"CAST(array_position({d2}, array_min({d2})) - 1 AS INT)"
        return frame.withColumn("cell", F.expr(cell))
    spark = frame.sparkSession
    cent_df = spark.createDataFrame(
        [(i, [float(x) for x in c]) for i, c in enumerate(centroids)],
        "cell int, _cvec array<double>",
    )
    d2_col = F.aggregate(
        F.zip_with(as_double(F.col(vec_name)), F.col("_cvec"), lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    others = [c for c in frame.columns]
    # min_by on the (d2, cell) struct = argmin with the smallest-cell tie
    # break (struct ordering is lexicographic)
    return (
        frame.crossJoin(F.broadcast(cent_df))
        .select(*others, F.struct(d2_col.alias("d2"), F.col("cell")).alias("_dc"))
        .groupBy(*others)
        .agg(F.min("_dc").alias("_dc"))
        .select(*others, F.col("_dc.cell").alias("cell"))
    )


def ivf_index_append(
    new_corpus: DataFrame,
    path: str,
    *,
    id_col: str = "id",
    vec_col: str = "embedding",
) -> dict:
    """Append a batch of vectors into a persisted IVF index WITHOUT refitting
    or rewriting it — the production twin of the reference's incremental
    `add_document` write path (rag/database/documents.py:22-64) at index
    scale. Before this existed, any corpus growth forced a full index
    rebuild (KMeans fit + full write: ~50 s at the 100× artifact tier, hours
    at 100 TB).

    Semantics (rep grain, probe-equivalent to a fresh build with the same
    assignment), the same additive shape as `mllib_lsh_index_append`:
    - a batch vector IDENTICAL to an indexed vector gets a row in THAT
      vector's cell holding only the batch's ids — never reassigned, so one
      distinct vector never spans two cells, and the rows' disjoint member
      ids score identically in one rank window (the probe's dense_rank and
      DISTINCT would hide a repeated (id, score) row too);
    - a batch (id, vector) pair already indexed is dropped (a re-crawl; the
      whole-batch fingerprint only catches exact replays);
    - a genuinely new vector is assigned under the STORED centroids
      (`_argmin_cell` — the coarse quantizer is fixed at build time, the
      FAISS IVF add() contract).

    Physical shape: ONE scan of the index joined against the broadcast
    collapsed batch (the small side by contract) finds the batch vectors
    already indexed, their cells and their ids; the batch's rows then go
    into one new data directory partitioned by cell. Nothing indexed is
    rewritten. The directory goes live when the manifest naming it is
    published under the index's writer lock (state/manifest.py):
    concurrent appends serialize, and a crash before the publish leaves the
    index as it was. The `_cells.json` oracle sidecar, when present, is
    rewritten to cover the appended ids before that publish.

    Idempotent via the bounded batch fingerprint (`appended_fps`, an
    order-independent sum of xxhash64(id, vector)), checked before the lock
    and again under it: re-appending an absorbed batch takes no lock, scans
    nothing and writes nothing, so committed fixture bytes stay stable.

    Returns {"skipped", "n_batch", "fresh_reps", "known_reps", "n_overlap"}.
    """
    import os

    from ..util import ensure_parallelism, sized_for_write

    from .dedup import _collapse_stat_cols, _should_collapse

    spark = new_corpus.sparkSession
    meta = IVF_INDEX.load(path)
    # ONE aggregate: batch count + HLL distinct (collapse gate) + fingerprint
    base = ensure_parallelism(new_corpus).select(
        F.col(id_col).alias("_mid"), F.col(vec_col).alias("v")
    )
    probe = base.agg(
        *_collapse_stat_cols("v"),
        F.sum(F.xxhash64(F.col("_mid"), F.col("v")).cast("decimal(38,0)")).alias("fp"),
    ).first()
    n_batch, fp = int(probe["n"]), int(probe["fp"] or 0)
    batch_fp = f"{n_batch}:{fp}"
    skipped = {
        "skipped": True, "n_batch": n_batch, "fresh_reps": 0, "known_reps": 0, "n_overlap": 0,
    }
    if n_batch == 0 or batch_fp in meta["appended_fps"]:
        return skipped

    with IVF_INDEX.commit(path) as c:
        meta = c.require()
        if batch_fp in meta["appended_fps"]:
            return skipped
        centroids = meta["centroids"]
        reps, _n, _did = _collapse_to_reps(
            new_corpus, id_col, vec_col,
            stats=(n_batch, int(probe["d"])),
            collapse=_should_collapse(n_batch, int(probe["d"])),
        )
        reps = reps.select("ids", F.col("v").alias(vec_col))
        # the one index scan: indexed rows whose vector is in the batch
        hits = (
            M.frame(spark, path, meta["parts"]["data"])
            .select("ids", vec_col, "cell")
            .join(F.broadcast(reps.select(vec_col)), vec_col, "left_semi")
            .localCheckpoint(eager=True)
        )
        members = reps.select(F.explode("ids").alias("_mid"), vec_col)
        overlap = (
            hits.select(F.explode("ids").alias("_mid"), vec_col)
            .join(F.broadcast(members), ["_mid", vec_col], "left_semi")
            .distinct()
        )
        n_overlap = overlap.count()
        if n_overlap:
            reps = (
                members.join(F.broadcast(overlap), ["_mid", vec_col], "left_anti")
                .groupBy(vec_col)
                .agg(F.sort_array(F.collect_list("_mid")).alias("ids"))
            )
        cells = hits.select(vec_col, "cell").distinct()
        known = reps.join(F.broadcast(cells), vec_col)
        fresh = _argmin_cell(reps.join(F.broadcast(cells), vec_col, "left_anti"), centroids, vec_col)
        # sized BEFORE the checkpoint (r16 file sizing, guide §6): each cell
        # directory gets its rows from one task
        rows = sized_for_write(
            known.select("ids", vec_col, "cell").unionByName(fresh.select("ids", vec_col, "cell")),
            by="cell",
        ).localCheckpoint(eager=True)
        known_reps = known.count()
        n_rows = rows.count()
        dirs = meta["parts"]["data"]
        if n_rows:
            name, data = c.new_dir()
            rows.write.partitionBy("cell").parquet(data)
            dirs = dirs + [name]
            cells_path = os.path.join(path, "_cells.json")
            if os.path.exists(cells_path):
                _write_cells_sidecar(M.frame(spark, path, dirs), cells_path, id_col)
        c.publish({
            **meta, "parts": {"data": dirs},
            "appended_fps": M.remember(meta["appended_fps"], batch_fp),
        })
    return {
        "skipped": False, "n_batch": n_batch, "fresh_reps": n_rows - known_reps,
        "known_reps": known_reps, "n_overlap": n_overlap,
    }


def _nearest_cells_sql(centroids: Sequence[Sequence[float]], qvec: str, nprobe: int) -> str:
    """SQL text of the query's nprobe nearest cells: sort the (1 − cos,
    cell) structs over the constant centroid literal, keep the cells of the
    first nprobe."""
    return (
        f"transform(slice(array_sort(transform({_centroid_literal_sql(centroids)}, (_c, _i) -> "
        f"named_struct('d', 1.0D - {cosine_sql(qvec, '_c')}, 'cell', _i))), "
        f"1, {int(nprobe)}), _p -> _p.cell)"
    )


def ivf_topk(
    queries: DataFrame,
    indexed_corpus: DataFrame,
    centroids: list[list[float]],
    *,
    k: int = 10,
    nprobe: int = 4,
    query_id_col: str = "qid",
    query_vec_col: str = "qvec",
    id_col: str = "id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF query: probe the nprobe nearest cells, exact cosine re-rank inside.

    A `queries` frame that reads no files (rows the caller built, as a
    query arrives) is read first, at most two rows in one job, and the plan
    is picked from their count. One query row (the reference's one k-NN per
    call, rag/database/search.py:21-101) is `_ivf_probe_one`: one statement
    with the cells as a static partition filter and no exchange.

    Any other row count, and any frame that reads files, runs the batch
    plan: two rows of a file-read frame would cost one more scan job before
    a plan that reads the files again. Each query row picks its cells with
    one expression over the centroid literal (`_nearest_cells_sql`). The
    (qid, cell) list is the one broadcast, and on a persisted index it
    prunes the scan to the probed cell directories; the per-qid rank window
    is the one shuffle. Qids sharing a vector get identical rows by
    construction; a replayed (qid, vector) row scores each member once per
    copy, so `dense_rank` ties the copies and `DISTINCT` keeps one, on the
    window's qid partitioning (no exchange).
    """
    rows = []
    if not queries.inputFiles():
        # `.rdd.collect()` runs the limit as one job (its single-partition
        # shuffle stays inside the RDD); `collect()` would scan the
        # partitions in rounds, a job each, until it saw two rows or ran out.
        rows = queries.select(query_id_col, query_vec_col).limit(2).rdd.collect()
    if len(rows) == 1 and rows[0][1] is not None and None not in rows[0][1]:
        return _ivf_probe_one(
            rows[0], queries.schema[query_id_col].dataType.simpleString(), indexed_corpus,
            centroids, k=k, nprobe=nprobe, query_id_col=query_id_col, id_col=id_col, vec_col=vec_col,
        )
    nearest = _nearest_cells_sql(centroids, f"`{query_vec_col}`", nprobe)
    q, i = f"`{query_id_col}`", f"`{id_col}`"
    cos = cosine_sql(f"c.`{vec_col}`", f"p.`{query_vec_col}`")
    # r13 rep grain: a persisted index carries `ids array<long>` per distinct
    # vector — the cosine runs once per (distinct vector × probe) and member
    # ids explode back in before the rank window (identical vectors score
    # identically, so the exploded (id, score) set matches the per-id pass).
    # A per-id frame (ivf_build output / legacy callers) scores its id column.
    members = "ids" if "ids" in indexed_corpus.columns else i
    member = "explode(ids)" if members == "ids" else i
    # One SQL statement: the plan is analyzed once, not once per DataFrame
    # step. The `cell < k` bound holds for every row; it is there because
    # dynamic partition pruning only pushes the broadcast probe list into
    # the index scan when the probe side carries a comparison filter.
    return indexed_corpus.sparkSession.sql(
        f"""
        SELECT DISTINCT {q}, {i}, score, rank FROM (
          SELECT *, dense_rank() OVER (
            PARTITION BY {q} ORDER BY round(score, {ORDER_DP}) DESC, {i}) AS rank
          FROM (SELECT {q}, {member} AS {i}, score FROM (
            SELECT /*+ BROADCAST(p) */ p.{q}, c.{members},
              {_ivf_score_sql(cos)} AS score
            FROM {{corpus}} c JOIN (
              SELECT * FROM (
                SELECT {q}, `{query_vec_col}`, explode({nearest}) AS cell FROM {{queries}})
              WHERE cell < {len(centroids)}) p ON c.cell = p.cell)))
        WHERE rank <= {k}
        """,
        corpus=indexed_corpus,
        queries=queries,
    )


def _ivf_score_sql(cos: str) -> str:
    """The IVF probes' score: the cosine clamped into [0, 1], at the
    shared emitted precision."""
    return f"round(greatest(0.0D, least(1.0D, {cos})), {ROUND_DP})"


def _ivf_probe_one(
    row, qid_type: str, indexed_corpus: DataFrame, centroids: Sequence[Sequence[float]], *,
    k: int, nprobe: int, query_id_col: str, id_col: str, vec_col: str,
) -> DataFrame:
    """`ivf_topk` for one query row, read on the driver: one statement over
    the index. The query vector is one `from_json` literal (`rag._bind_query`),
    so the cell choice depends on constants only and `array_contains(<nearest>,
    cell)` is a static partition filter: the scan reads the nprobe cell
    directories. The top-k is `rag._top_k`'s tail (`TakeOrderedAndProject`,
    then a `row_number` over at most k rows), with no exchange.

    Columns, types and rows are the batch plan's for that qid, with one
    exception the index protocol never writes: an (id, vector) pair held by
    two rows of the frame (a per-id frame with a repeated row) ranks once in
    the batch plan, which takes DISTINCT after its window, and once per row
    here, where a DISTINCT would add an exchange. An append drops a
    re-added pair, and a repeated id inside one row's `ids` is collapsed
    here too.
    """
    from .rag import _QUERY, _bind_query, _top_k

    frame, source = _bind_query(indexed_corpus, row[1])
    i = f"`{id_col}`"
    # ids within a rep are sorted and share its score, so only a rep's k
    # smallest distinct ids can rank
    members, member = "ids", f"explode(slice(array_distinct(ids), 1, {int(k)}))"
    if "ids" not in indexed_corpus.columns:
        members = member = i
    scored = (
        f"SELECT CAST(:qid AS {qid_type}) AS `{query_id_col}`, {member} AS {i}, score "
        f"FROM (SELECT {members}, {_ivf_score_sql(cosine_sql(f'`{vec_col}`', _QUERY))} AS score "
        f"FROM {source} WHERE array_contains({_nearest_cells_sql(centroids, _QUERY, nprobe)}, cell))"
    )
    return _top_k(indexed_corpus.sparkSession, scored, k, 0.0, id_col, args={"qid": row[0]}, frame=frame)


def semantic_dedup(
    indexed: DataFrame,
    centroids: Sequence[Sequence[float]],
    *,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
    collapse_exact: bool = True,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic near-dup
    removal inside the coarse k-means cells of a persisted IVF index — the
    paper's design point is exactly this reuse: clustering bounds the
    quadratic so pairwise cosine only ever runs within a cell.

    Keep rule (the paper keeps the member with the LOWEST similarity to its
    cluster centroid), made order-independent and set-based: a vector is
    removed iff some same-cell vector has cosine ≥ threshold with it and a
    strictly smaller (centroid_sim, id) lexicographic key. Equivalently, each
    near-dup pair marks its (centroid_sim, id)-greater member removed; the
    removal set is the union over pairs. Deterministic, engine-portable
    (EXISTS semi-join semantics), and — unlike the greedy sequential scan in
    the paper's pseudocode — independent of visit order.

    Input is the ivf_index_load frame (id, vector, cell) + its stored
    centroids, so no KMeans fit happens here (build/probe split, as for
    ann queries). Output: one row per vector — (id, cell, centroid_sim,
    removed). Comparisons use the ROUND_DP-rounded similarity on both the
    pair threshold and the keep key, so the decision boundary is identical
    for any engine that reproduces 6-dp cosine.

    Scale: one shuffle on `cell` (the partitioning the index already has on
    disk), then all pair work is cell-local; with n_cells ≈ √N (auto_n_cells)
    expected within-cell pairs stay ~N per cell-batch, not N². The removal
    join back is an id equi-join. Skewed cells (a mass of near-identical
    vectors) are the AQE skew-join case; the dedup THRESHOLD itself keeps
    hot cells rare in practice — they are exactly what gets removed.

    ``collapse_exact=True`` (default) first collapses byte-identical vectors
    within a cell to one representative (group key = the vector itself; the
    groupBy shuffles on the SAME cell partitioning) and runs the pairwise
    pass on representatives only, then expands the decision back to members.
    This is semantics-preserving under the rounded keep rule — identical
    vectors share one centroid_sim, a nonzero self-pair has cosine exactly
    1.0 (≥ any threshold) so a multi-member group keeps only its min id,
    a zero-vector group pairs with nothing (guard-zeroed cosine), and a
    whole group is removed iff some partner group has a smaller
    (centroid_sim, min id) key, which is precisely when its own min member
    would lose a member-level pair — and it converts the dense-duplicate
    worst case (a D-clique costs D² member pairs but 1 representative) into
    linear expansion work: the exact shape a dedup corpus maximizes.
    Measured on the 10x replicated corpus (every vector a 10-clique):
    43.5 s member-level vs 10.7 s collapsed in the same session, identical
    18 000-row removal set; the residual collapsed cost is the two
    vector-keyed shuffles (groupBy + expansion join), linear in N.
    False = the literal member-level pair pass.
    """
    from ..util import release_scoped_caches as _release_stale
    from ..util import scoped_cache as _scoped_cache

    if dim is None:
        dim = len(centroids[0])
    _release_stale()
    # r13: a rep-grain persisted index (`ids array<long>` per distinct
    # vector) IS the exact-duplicate collapse this operator used to compute
    # itself. The collapse_exact path consumes the rows directly as reps —
    # rid = ids[0] (sorted ascending = the min member id), nm = size(ids) —
    # so the groupBy(cell, v) shuffle disappears entirely; the member-level
    # audit arm explodes first and runs unchanged. Removal semantics are
    # byte-identical to the full-grain input either way.
    rep_input = "ids" in indexed.columns and id_col not in indexed.columns
    if rep_input and not collapse_exact:
        indexed = indexed.select(
            F.explode("ids").alias(id_col), F.col(vec_col), F.col("cell")
        )
        rep_input = False
    clamp6 = lambda c: F.round(F.greatest(F.lit(-1.0), F.least(F.lit(1.0), c)), ROUND_DP)  # noqa: E731
    # centroid matrix as ONE folded constant — the 16x64 F.lit() version
    # cost ~1-2 s of py4j round-trips per query construction (the note-9
    # build-cost lesson)
    cent = F.expr(_centroid_literal_sql(centroids))
    # per-vector work (N rows): centroid sim via the HOF fold is fine; the
    # norm is precomputed HERE so the within-cell pair join below runs the
    # unrolled dot_fixed codegen path (the N²-within-cell hot loop) instead
    # of an interpreted per-element fold — same sequential fp64 order either
    # way, so values match the oracle bit-for-bit. base is read by every
    # branch of either path (reps/pairs/expansion join), so it is
    # scope-cached — without the barrier each branch re-runs the projection
    # including the centroid HOF (measured 2x on the bench corpus).
    base = _scoped_cache(
        indexed.select(
            F.col("ids").alias("ids") if rep_input else F.col(id_col).alias("id"),
            F.col(vec_col).alias("v"),
            F.col("cell").cast("int").alias("cell"),
            norm(as_double(F.col(vec_col))).alias("nrm"),
        ).withColumn(
            "centroid_sim",
            clamp6(cosine_similarity(F.col("v"), F.element_at(cent, F.col("cell") + 1))),
        )
    )
    pair_cos = F.when((F.col("na") == 0.0) | (F.col("nb") == 0.0), F.lit(0.0)).otherwise(
        dot_fixed("va", "vb", dim) / (F.col("na") * F.col("nb"))
    )
    if not collapse_exact:
        a = base.select(
            F.col("cell"), F.col("id").alias("id_a"), F.col("v").alias("va"),
            F.col("nrm").alias("na"), F.col("centroid_sim").alias("ca"),
        )
        b = base.select(
            F.col("cell"), F.col("id").alias("id_b"), F.col("v").alias("vb"),
            F.col("nrm").alias("nb"), F.col("centroid_sim").alias("cb"),
        )
        pairs = (
            a.join(b, "cell")
            .where(F.col("id_a") < F.col("id_b"))
            .where(clamp6(pair_cos) >= threshold)
        )
        # the pair's (centroid_sim, id)-greater member is the removed one;
        # with id_a < id_b a tie on the rounded sims removes b
        removed = pairs.select(
            F.when(F.col("cb") >= F.col("ca"), F.col("id_b")).otherwise(F.col("id_a")).alias("id")
        ).distinct()
        return (
            base.join(removed.withColumn("_rm", F.lit(True)), "id", "left")
            .select(
                F.col("id").alias(id_col),
                "cell",
                "centroid_sim",
                F.coalesce("_rm", F.lit(False)).alias("removed"),
            )
        )
    # --- exact-duplicate pre-collapse ------------------------------------
    # One representative per identical vector value per cell. min() of the
    # per-member centroid_sim is deterministic (identical inputs produce the
    # identical value; min only defends the aggregation contract). A
    # rep-grain index row already IS the group (ids sorted ascending, one
    # cell per distinct vector — assignment is deterministic), so it maps
    # shuffle-free.
    if rep_input:
        reps = _scoped_cache(
            base.select(
                "cell",
                "v",
                "ids",
                F.element_at("ids", 1).alias("rid"),
                F.col("nrm").alias("rnrm"),
                F.col("centroid_sim").alias("rsim"),
                F.size("ids").cast("long").alias("nm"),
            )
        )
    else:
        reps = _scoped_cache(
            base.groupBy("cell", "v").agg(
                F.min("id").alias("rid"),
                F.min("nrm").alias("rnrm"),
                F.min("centroid_sim").alias("rsim"),
                F.count("*").alias("nm"),
            )
        )
    a = reps.select(
        F.col("cell"), F.col("rid").alias("id_a"), F.col("v").alias("va"),
        F.col("rnrm").alias("na"), F.col("rsim").alias("ca"),
    )
    b = reps.select(
        F.col("cell"), F.col("rid").alias("id_b"), F.col("v").alias("vb"),
        F.col("rnrm").alias("nb"), F.col("rsim").alias("cb"),
    )
    # DIRECTIONAL rep pairs: mark id_a's whole group removed when partner
    # id_b carries a strictly smaller (centroid_sim, min id) key — exactly
    # when id_a (the group's min member) would lose a member-level pair.
    group_removed = (
        a.join(b, "cell")
        .where(F.col("id_a") != F.col("id_b"))
        .where(clamp6(pair_cos) >= threshold)
        .where(
            (F.col("cb") < F.col("ca"))
            | ((F.col("cb") == F.col("ca")) & (F.col("id_b") < F.col("id_a")))
        )
        .select(F.col("id_a").alias("rid"))
        .distinct()
        .withColumn("_grm", F.lit(True))
    )
    # a multi-member group self-pairs at cosine exactly 1.0 unless it is the
    # zero vector (guard-zeroed cosine pairs with nothing)
    self_cos = clamp6(F.when(F.col("rnrm") == 0.0, F.lit(0.0)).otherwise(F.lit(1.0)))
    groups = reps.join(group_removed, "rid", "left").select(
        "cell",
        *(("ids", "rsim") if rep_input else ("v",)),
        "rid",
        F.coalesce("_grm", F.lit(False)).alias("grm"),
        ((F.col("nm") > 1) & (self_cos >= threshold)).alias("selfdup"),
    )
    # expand: member removed iff its group is removed outright, or the group
    # self-pairs and the member is not the group's min id
    if rep_input:
        # members come straight off the group's ids array — no join back
        m = groups.select(
            "cell",
            F.col("rsim").alias("centroid_sim"),
            "rid",
            "grm",
            "selfdup",
            F.explode("ids").alias("id"),
        )
        return m.select(
            F.col("id").alias(id_col),
            "cell",
            "centroid_sim",
            (
                F.col("grm") | (F.col("selfdup") & (F.col("id") != F.col("rid")))
            ).alias("removed"),
        )
    return (
        base.join(groups, ["cell", "v"])
        .select(
            F.col("id").alias(id_col),
            "cell",
            "centroid_sim",
            (
                F.col("grm") | (F.col("selfdup") & (F.col("id") != F.col("rid")))
            ).alias("removed"),
        )
    )


# --- scalar quantization (int8 storage tier) --------------------------------

def quantize_embeddings(
    emb: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    keep_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Per-vector 8-bit scalar quantization: each float vector becomes
    (qvec ∈ [0,255]^d, vmin, scale) with x̂ᵢ = vmin + qᵢ·scale — the
    storage tier that cuts the ANN working set 4× vs float32 (8× vs the
    fp64 compute form). This is the "SQ8" layout every large-scale vector
    store offers (FAISS ScalarQuantizer / Milvus SQ8 are the public
    references); the reference repo stores raw float lists
    (rag/embeddings/*), which at 100 TB of embeddings is the dominant
    storage and scan cost.

    One narrow projection, zero shuffles: per-row min/max → scale →
    element-wise floor((x - vmin)/scale + 0.5). The constant vector edge
    (scale = 0) quantizes to all-zeros and dequantizes to vmin exactly.
    Deterministic — same doubles in, same codes out, in any engine that
    follows IEEE754 (the oracle twin reproduces it in SQL).

    Output: (id, qvec array<int>, vmin double, scale double). On a real
    lake the qvec column is written as 1-byte codes; parquet byte arrays +
    dictionary encoding get within a few % of that from the int form, so
    the plumbing here keeps ints for expression-level simplicity.
    """
    v = as_double(F.col(vec_col))
    staged = emb.select(F.col(id_col).alias("id"), *keep_cols, v.alias("v")).select(
        "id",
        *keep_cols,
        "v",
        F.array_min("v").alias("vmin"),
        ((F.array_max("v") - F.array_min("v")) / F.lit(255.0)).alias("scale"),
    )
    # scale/vmin are plain columns here, so the lambda embeds one attribute
    # reference, not a re-evaluated aggregate (HOFs have no CSE — PLANS #1)
    qvec = F.when(
        F.col("scale") == 0.0,
        F.expr("transform(v, x -> 0)"),
    ).otherwise(F.expr("transform(v, x -> CAST(floor((x - vmin) / scale + 0.5) AS INT))"))
    return staged.select(
        F.col("id").alias(id_col), *keep_cols, qvec.alias("qvec"), "vmin", "scale"
    )


def dequantize_expr(qvec_col: str = "qvec", vmin_col: str = "vmin", scale_col: str = "scale"):
    """Column expression reconstructing the dequantized double vector
    x̂ᵢ = vmin + qᵢ·scale from quantize_embeddings' output columns."""
    return F.expr(f"transform({qvec_col}, q -> {vmin_col} + CAST(q AS DOUBLE) * {scale_col})")


def ann_quantized_topk(
    qemb: DataFrame,
    query: DataFrame,
    *,
    k: int = 10,
    id_col: str = "vec_id",
    query_col: str = "qv",
) -> DataFrame:
    """Brute-force top-k cosine over a QUANTIZED corpus (the output of
    `quantize_embeddings`) with a float query — asymmetric distance
    computation (ADC, the IVF-PQ convention: only the stored side pays the
    quantization error; the query stays exact). ``query`` is a 1-row frame
    holding the query vector in ``query_col``; it rides a broadcast cross
    join like every query vector here (no driver collect). The plan is
    rag_search's shape — one corpus scan, broadcast query,
    TakeOrderedAndProject — but the scan reads 4×-smaller codes at the
    storage layer; compose with the IVF tier's partition pruning for the
    full billion-scale layout (quantized codes inside pruned cells).

    Output: (id, qcos, rank) where qcos is cosine(dequantized, query),
    rounded like every similarity score; ties break on ascending id.
    """
    dq = qemb.select(F.col(id_col), dequantize_expr().alias("dv")).crossJoin(
        F.broadcast(query)
    )
    score = F.round(cosine_similarity(F.col("dv"), F.col(query_col)), ROUND_DP)
    w = Window.orderBy(F.desc("qcos"), F.col(id_col).asc())
    return (
        dq.select(F.col(id_col), score.alias("qcos"))
        .orderBy(F.desc("qcos"), F.col(id_col).asc())
        .limit(k)
        .withColumn("rank", F.row_number().over(w))
    )


def ivf_quantized_topk(
    queries: DataFrame,
    indexed_corpus: DataFrame,
    centroids: Sequence[Sequence[float]],
    *,
    k: int = 10,
    nprobe: int = 4,
    query_id_col: str = "qid",
    query_vec_col: str = "qvec",
    id_col: str = "id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF probe over SQ8-quantized codes — the composed billion-scale
    layout (FAISS IVF-SQ8): the coarse quantizer prunes the scan to nprobe
    cells (partition pruning when cells are the parquet partitions) and the
    in-cell re-rank reads 4×-smaller codes with asymmetric distance (exact
    float query vs dequantized corpus). The probe is ivf_topk over the
    dequantized vectors — cell choice uses the EXACT query vector, so
    pruning quality is unaffected by quantization; only the re-rank pays
    the (bounded) code error. Output: (qid, id, score, rank), score = clamped
    cosine vs the dequantized vector at the shared 6-dp rounding.
    """
    # rep grain: quantization + dequantization run per distinct vector when
    # the index carries `ids`; ivf_topk explodes the members before ranking
    member = "ids" if "ids" in indexed_corpus.columns else id_col
    dequantized = quantize_embeddings(
        indexed_corpus, id_col=member, vec_col=vec_col, keep_cols=("cell",)
    ).select(member, "cell", dequantize_expr().alias(vec_col))
    return ivf_topk(
        queries, dequantized, centroids, k=k, nprobe=nprobe, query_id_col=query_id_col,
        query_vec_col=query_vec_col, id_col=id_col, vec_col=vec_col,
    )
