"""RAG search / similarity operators (SURVEY.md §2.9 Q13–Q19).

The reference delegates k-NN to an in-process ChromaDB HNSW index
(rag/database/search.py:21-101). Spark-first re-expression: exact brute-force
cosine as a one-pass scan + ``TakeOrderedAndProject`` (per-partition top-k
heaps, driver merge — no shuffle of the corpus). The single-query path
(`score_against`, `rag_search`, `find_similar`) is one ``spark.sql``
statement over the caller's frame, analyzed once: the query vector is one
``from_json`` literal (or a column), and the cosine is the SQL text of
`functions.vector.cosine_similarity`, computed once per row. At 100 TB this
is the exact baseline; `operators/similarity.py` adds the approximate tiers
for latency-sensitive scale.

Determinism contract (for the DuckDB oracle): scores are computed in fp64,
ordering uses ``round(score, 9)`` with the id as tiebreak, and emitted scores
are rounded to 6 dp so order-insensitive value hashes are bit-stable across
engines.
"""

from __future__ import annotations

import json
from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.vector import cosine_similarity, cosine_similarity_fixed, cosine_sql, distance_to_score
from ..schemas import DEFAULT_SIMILARITY_THRESHOLD, MAX_RAG_RESULTS

ROUND_DP = 6  # emitted float precision
ORDER_DP = 9  # precision used for ordering / ranking
_QUERY = "_rag_query"  # the query vector's column in the one statement


def _bind_query(frame: DataFrame, query: Column | str | Sequence[float]) -> tuple[DataFrame, str]:
    """`frame` and the SQL source over it that carries the query vector as
    column `_rag_query`: a column name is referenced, a Column is bound
    once as a column of the frame, and a sequence is ONE `from_json`
    literal the optimizer folds to a constant: one string node to analyze
    at any dimension, and JSON carries each double's round-trip repr, so
    values are exact."""
    if isinstance(query, Column):
        return frame.withColumn(_QUERY, query), "{frame}"
    q = f"`{query}`" if isinstance(query, str) else (
        f"from_json('{json.dumps([float(x) for x in query])}', 'array<double>')"
    )
    return frame, f"(SELECT *, {q} AS {_QUERY} FROM {{frame}})"


def _scored_sql(cols: Sequence[str], vec_col: str, source: str, tail: Sequence[str] = ()) -> str:
    """SELECT of `cols`, distance, score, `tail` over `source`; the
    innermost subquery computes the cosine `_cos` once per row and both
    outputs read it. The cosine is clamped into [-1, 1] before 1 - cos: fp
    error on a self-match can give cos = 1 + 2e-16, whose distance rounds
    to -0.0, bit-different from 0.0 under value-hash comparison (the oracle
    SQL applies the identical clamp). score is `distance_to_score(1 - sim)`.
    Both clamps keep a NULL cosine (a NULL vector or element, or a length
    unlike the query's) NULL — `greatest`/`least` alone skip NULLs and
    would rank a malformed vector at distance 2.0 — so such a row reports
    NULL distance and score, sorts last and fails every threshold."""
    clamp = lambda lo, x: f"IF({x} IS NULL, NULL, least(1.0D, greatest({lo}, {x})))"  # noqa: E731
    return (
        f"SELECT {', '.join(f'`{c}`' for c in cols)}, round(1.0D - _sim, {ROUND_DP}) AS distance, "
        f"round({clamp('0.0D', '1.0D - (1.0D - _sim)')}, {ROUND_DP}) AS score"
        f"{''.join(f', `{c}`' for c in tail)} FROM (SELECT *, {clamp('-1.0D', '_cos')} AS _sim "
        f"FROM (SELECT *, {cosine_sql(f'`{vec_col}`', _QUERY)} AS _cos FROM {source}))"
    )


def _top_k(spark, scored: str, k: int, threshold: float, id_col: str, args: dict | None = None, **frames) -> DataFrame:
    """The one statement: `scored` cut to the k best by (round(score, 9)
    desc, id) — per-partition heaps and a driver merge, no shuffle of the
    corpus — then the threshold, then the 1-based rank over the ≤ k
    survivors (a window on the single-partition result)."""
    order = f"round(score, {ORDER_DP}) DESC, `{id_col}`"
    return spark.sql(
        f"SELECT *, row_number() OVER (ORDER BY {order}) AS rank "
        f"FROM ({scored} ORDER BY {order} LIMIT {int(k)}) WHERE score >= :threshold",
        args={"threshold": threshold, **(args or {})},
        **frames,
    )


def _join_documents(frame: DataFrame, documents: DataFrame | None, id_col: str, doc_id_col: str):
    """`frame` inner-joined to `documents` on id, and the document columns
    the output carries after distance and score."""
    if documents is None:
        return frame, []
    joined = frame.join(documents, frame[id_col] == documents[doc_id_col]).drop(documents[doc_id_col])
    return joined, [c for c in documents.columns if c != doc_id_col]


def score_against(
    embeddings: DataFrame,
    query: Column | str | Sequence[float],
    vec_col: str = "embedding",
) -> DataFrame:
    """Append distance/score columns for one query vector (X17 + X18): one
    `spark.sql` statement over `embeddings`, one cosine per row."""
    frame, source = _bind_query(embeddings, query)
    return embeddings.sparkSession.sql(_scored_sql(embeddings.columns, vec_col, source), frame=frame)


def rag_search(
    embeddings: DataFrame,
    query: Column | str | Sequence[float],
    documents: DataFrame | None = None,
    *,
    limit: int = MAX_RAG_RESULTS,
    threshold: float = DEFAULT_SIMILARITY_THRESHOLD,
    max_results: int = MAX_RAG_RESULTS,
    id_col: str = "id",
    vec_col: str = "embedding",
    doc_id_col: str = "id",
    metadata_predicate: Column | None = None,
) -> DataFrame:
    """Q13 — the flagship pipeline (reference rag/database/search.py:21-101).

    embed query → (optional documents join and metadata pre-filter) →
    cosine → score=max(0,1−d) → top-k (k = min(limit, max_results),
    reference search.py:38) → threshold filter → 1-based rank
    (search.py:89-98).

    One `spark.sql` statement over the caller's frame: `documents` and
    `metadata_predicate` apply to the frame first (join on id, then
    filter); the cosine runs once per row in a subquery, and distance,
    score, the top-k (`TakeOrderedAndProject`), the threshold and the
    rank all read that value.

    The threshold is applied AFTER the top-k limit — set-identical to the
    reference's filter-then-top-k at any threshold: if ≥ k rows clear the
    threshold, the k best overall all clear it (both forms = the k best);
    if fewer do, the overall top-k contains every clearing row (they are
    the global head) and the post-filter keeps exactly those. Rank is
    assigned after the filter either way, over the same rows in the same
    total order. Post-limit the threshold touches ≤ k rows and is never
    pushed below the top-k into the scan.
    """
    frame, source = _bind_query(embeddings, query)
    frame, tail = _join_documents(frame, documents, id_col, doc_id_col)
    if metadata_predicate is not None:
        frame = frame.where(metadata_predicate)
    scored = _scored_sql(embeddings.columns, vec_col, source, tail)
    return _top_k(embeddings.sparkSession, scored, min(limit, max_results), threshold, id_col, frame=frame)


def find_similar(
    embeddings: DataFrame,
    target_id,
    documents: DataFrame | None = None,
    *,
    limit: int = MAX_RAG_RESULTS,
    threshold: float = 0.8,
    id_col: str = "id",
    vec_col: str = "embedding",
    doc_id_col: str = "id",
) -> DataFrame:
    """Q16 — docs similar to a given doc, excluding itself
    (reference rag/retrieval.py:100-136: fetch k+1 then filter id ≠ target).

    The rag_search statement with the target's vector as the query: a
    one-row `first()` aggregate broadcast across the corpus, so the vector
    rides along with every task. The self-exclusion stays BEFORE the top-k
    (it shapes the candidate set); the similarity threshold moves after it
    (set-identical, the rag_search argument).
    """
    frame, tail = _join_documents(embeddings, documents, id_col, doc_id_col)
    i = f"`{id_col}`"
    source = (
        f"(SELECT /*+ BROADCAST(t) */ * FROM {{frame}} CROSS JOIN "
        f"(SELECT first(`{vec_col}`) AS {_QUERY} FROM {{embeddings}} WHERE {i} = :target) t "
        f"WHERE {i} != :target)"
    )
    scored = _scored_sql(embeddings.columns, vec_col, source, tail)
    return _top_k(
        embeddings.sparkSession, scored, limit, threshold, id_col,
        args={"target": target_id}, frame=frame, embeddings=embeddings,
    )


def pairwise_similarity(embeddings: DataFrame, id_a, id_b, *, id_col: str = "id", vec_col: str = "embedding") -> DataFrame:
    """Q19 — compute_similarity(text1, text2) as a 1-row plan
    (reference rag/embeddings/manager.py:69-98)."""
    a = embeddings.where(F.col(id_col) == id_a).select(F.col(vec_col).alias("va"))
    b = embeddings.where(F.col(id_col) == id_b).select(F.col(vec_col).alias("vb"))
    return a.crossJoin(F.broadcast(b)).select(
        F.lit(str(id_a)).alias("id_a"),
        F.lit(str(id_b)).alias("id_b"),
        F.round(cosine_similarity(F.col("va"), F.col("vb")), ROUND_DP).alias("similarity"),
    )


def batch_topk_join(
    queries: DataFrame,
    corpus: DataFrame,
    *,
    k: int = 3,
    query_id_col: str = "qid",
    query_vec_col: str = "qvec",
    id_col: str = "id",
    vec_col: str = "embedding",
    carry_cols: Sequence[str] = (),
    broadcast_queries: bool = True,
    dim: int | None = None,
) -> DataFrame:
    """N×M batch similarity join: top-k corpus neighbors per query row.

    Physical shape: broadcast the (small) query side, stream the corpus once;
    per-query top-k via a window partitioned by query id — the shuffle moves
    only (qid, id, score[, carry]) tuples, never the vectors, and partitioning
    by qid spreads the ranking across the cluster (no global single-partition
    sort).
    """
    q = F.broadcast(queries) if broadcast_queries else queries
    sim = (
        cosine_similarity_fixed(vec_col, query_vec_col, dim) if dim
        else F.expr(cosine_sql(f"`{vec_col}`", f"`{query_vec_col}`"))
    )
    scored = (
        corpus.crossJoin(q)
        .select(
            F.col(query_id_col),
            F.col(id_col),
            F.round(distance_to_score(F.lit(1.0) - sim), ROUND_DP).alias("score"),
            *[F.col(c) for c in carry_cols],
        )
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.round(F.col("score"), ORDER_DP).desc(), F.col(id_col).asc()
    )
    return scored.withColumn("rank", F.row_number().over(w)).where(F.col("rank") <= k)


def knn_classify(
    queries: DataFrame,
    corpus: DataFrame,
    *,
    k: int = 5,
    label_col: str = "label",
    query_id_col: str = "qid",
    query_vec_col: str = "qvec",
    id_col: str = "id",
    vec_col: str = "embedding",
    dim: int | None = None,
) -> DataFrame:
    """Majority label among the k nearest corpus vectors, per query.

    Ties broken toward the smaller label value (deterministic).
    """
    nn = batch_topk_join(
        queries,
        corpus.select(id_col, vec_col, label_col),
        k=k,
        query_id_col=query_id_col,
        query_vec_col=query_vec_col,
        id_col=id_col,
        vec_col=vec_col,
        carry_cols=(label_col,),
        dim=dim,
    )
    counts = nn.groupBy(query_id_col, label_col).agg(F.count("*").alias("votes"))
    w = Window.partitionBy(query_id_col).orderBy(F.col("votes").desc(), F.col(label_col).asc())
    return (
        counts.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(F.col(query_id_col), F.col(label_col).alias("predicted_label"), F.col("votes"))
    )
