"""RAG search pipeline tests — ordering/threshold/rank invariants from the
reference's integration spec (tests/integration/test_rag_integration.py:
strictly score-descending results, rank assigned after threshold filter,
self-exclusion in find_similar)."""

from __future__ import annotations

from pyspark.sql import functions as F

from mcp_synaptic_spark.operators import rag as R


def _emb(spark):
    rows = [
        (1, [1.0, 0.0, 0.0]),
        (2, [0.9, 0.1, 0.0]),
        (3, [0.0, 1.0, 0.0]),
        (4, [0.7, 0.7, 0.0]),
        (5, [0.0, 0.0, 0.0]),  # zero vector
    ]
    return spark.createDataFrame(rows, "id long, embedding array<float>")


def test_rag_search_ordering_and_rank(spark):
    out = R.rag_search(_emb(spark), [1.0, 0.0, 0.0], threshold=0.0, limit=10).collect()
    scores = [r.score for r in out]
    assert scores == sorted(scores, reverse=True)  # strictly score-descending
    assert [r.rank for r in out] == list(range(1, len(out) + 1))  # 1-based dense
    assert out[0].id == 1 and out[0].score == 1.0


def test_rag_search_threshold_applied_before_rank(spark):
    out = R.rag_search(_emb(spark), [1.0, 0.0, 0.0], threshold=0.9, limit=10).collect()
    # only ids 1 (1.0) and 2 (~0.994) survive; ranks restart at 1
    assert [r.id for r in out] == [1, 2]
    assert [r.rank for r in out] == [1, 2]


def test_rag_search_zero_vector_scores_zero(spark):
    out = {r.id: r.score for r in R.rag_search(_emb(spark), [1.0, 0.0, 0.0], threshold=0.0, limit=10).collect()}
    assert out[5] == 0.0  # zero-norm guard


def test_rag_search_k_capped_by_max_results(spark):
    # reference search.py:38: n_results = min(limit, MAX_RAG_RESULTS)
    out = R.rag_search(_emb(spark), [1.0, 0.0, 0.0], threshold=0.0, limit=100, max_results=3).collect()
    assert len(out) == 3


def test_find_similar_excludes_self(spark):
    out = R.find_similar(_emb(spark), 1, threshold=0.0, limit=10).collect()
    assert all(r.id != 1 for r in out)
    assert out[0].id == 2  # nearest neighbor of [1,0,0]


# --- exact search as one SQL statement: fp64 reference and plan shape -------

def _half_up(x: float, dp: int) -> float:
    """Spark's round(x, dp): HALF_UP on the double's shortest decimal."""
    from decimal import ROUND_HALF_UP, Decimal

    return float(Decimal(repr(x)).quantize(Decimal(1).scaleb(-dp), rounding=ROUND_HALF_UP))


def _ref_cos(v, q):
    """cosine_similarity in fp64 with the engine's sequential fold, under
    SQL's three-valued logic: a NULL vector or element makes its dot NULL
    (None), and so do mismatched lengths (zip_with pads the shorter side
    with NULL); a zero norm on either side still gives 0.0."""
    def dot(a, b):
        if a is None or len(a) != len(b) or any(x is None for x in a + b):
            return None
        return sum((float(x) * float(y) for x, y in zip(a, b)), 0.0)

    na, nb = (None if d is None else d ** 0.5 for d in (dot(v, v), dot(q, q)))
    if na == 0.0 or nb == 0.0:
        return 0.0
    return None if na is None or dot(v, q) is None else dot(v, q) / (na * nb)


def _reference(corpus, q, k, threshold, keep=lambda i: True):
    """rag_search's rows from numpy fp64 inputs: a NULL cosine gives a NULL
    score, which sorts last and fails every threshold, so its row never
    ranks; 6-dp distance/score, top-k by (score desc, id), threshold after
    the cut, then the 1-based rank."""
    rows = []
    for i, v in corpus:
        cos = _ref_cos(v, q)
        if not keep(i) or cos is None:
            continue
        sim = min(1.0, max(-1.0, cos))
        rows.append((i, _half_up(1.0 - sim, 6), _half_up(min(1.0, max(0.0, 1.0 - (1.0 - sim))), 6)))
    rows.sort(key=lambda r: (-r[2], r[0]))
    kept = [r for r in rows[:k] if r[2] >= threshold]
    return [(i, d, s, n) for n, (i, d, s) in enumerate(kept, 1)]


def _edge_corpus():
    """Random 8-d float vectors plus every edge the statement must keep:
    a zero vector, a NULL element, a shorter vector, a NULL vector, and
    score ties at round(score, 9) (an exact duplicate and a scaled copy)."""
    import numpy as np

    rng = np.random.default_rng(17)
    f32 = lambda v: [float(np.float32(x)) for x in v]  # noqa: E731  (array<float> storage)
    corpus = [(i, f32(rng.normal(size=8))) for i in range(1, 31)]
    corpus += [(40, [0.0] * 8), (41, f32(rng.normal(size=4)) + [None] + [0.5] * 3),
               (42, f32(rng.normal(size=5))), (43, None)]
    corpus += [(50, corpus[2][1]), (51, corpus[2][1]), (52, [2.0 * x for x in corpus[2][1]])]
    return corpus


def test_exact_search_matches_fp64_reference(spark):
    """rag_search and find_similar return the reference's rows exactly —
    for a sequence, a column-name and a Column-expression query, a zero
    query vector, a threshold that cuts inside the top-k, limit above
    max_results, and documents= plus metadata_predicate=."""
    corpus = _edge_corpus()
    q = [0.3, -1.2, 0.8, 0.05, 2.0, -0.4, 1.1, 0.0]
    emb = spark.createDataFrame(corpus, "id long, embedding array<float>")
    with_q = emb.withColumn("qv", F.array(*[F.lit(x) for x in q]))
    got = lambda df: [(r.id, r.distance, r.score, r.rank) for r in df.collect()]  # noqa: E731

    full = _reference(corpus, q, 100, -1.0)
    cut = full[5][2]  # a threshold that keeps 6 of a top-10
    for query, frame in ((q, emb), ("qv", with_q), (F.transform("qv", lambda x: x * 1.0), with_q)):
        assert got(R.rag_search(frame, query, threshold=0.0, limit=40, max_results=40)) == _reference(corpus, q, 40, 0.0)
        assert got(R.rag_search(frame, query, threshold=cut, limit=10)) == _reference(corpus, q, 10, cut)
    zero = [0.0] * 8
    assert got(R.rag_search(emb, zero, threshold=0.0, limit=40, max_results=40)) == _reference(corpus, zero, 40, 0.0)
    assert got(R.rag_search(emb, q, threshold=0.0, limit=50, max_results=7)) == _reference(corpus, q, 7, 0.0)
    # the tie case is in the data: four ids share one rounded score
    assert len({r[2] for r in full if r[0] in (3, 50, 51, 52)}) == 1
    # malformed vectors (a NULL element, a short vector, a NULL vector)
    # never rank; score_against reports their distance and score as NULL
    assert not {41, 42, 43} & {r[0] for r in full}
    nulls = R.score_against(emb, q).where(F.col("id").isin(41, 42, 43))
    assert {(r.id, r.distance, r.score) for r in nulls.collect()} == {(i, None, None) for i in (41, 42, 43)}

    docs = spark.createDataFrame([(i, "en" if i % 3 else "fr") for i, _ in corpus], "doc_id long, lang string")
    filtered = R.rag_search(
        emb, q, docs, threshold=0.0, limit=10, doc_id_col="doc_id",
        metadata_predicate=F.col("lang") == "en",
    )
    assert filtered.columns == ["id", "embedding", "distance", "score", "lang", "rank"]
    assert got(filtered) == _reference(corpus, q, 10, 0.0, keep=lambda i: i % 3 != 0)

    vecs = dict(corpus)
    for target, threshold in ((3, 0.0), (7, 0.4)):
        want = _reference(corpus, vecs[target], 10, threshold, keep=lambda i: i != target)
        assert got(R.find_similar(emb, target, threshold=threshold, limit=10)) == want


def test_exact_search_is_one_statement_plan(spark):
    """A sequence query is one from_json literal in the analyzed plan (not a
    CreateArray of per-element literals), and the executed plan cuts the
    top-k with one TakeOrderedAndProject and shuffles nothing."""
    out = R.rag_search(_emb(spark), [1.0, 0.25, 0.0], threshold=0.0, limit=3)
    qe = out._jdf.queryExecution()
    analyzed, executed = qe.analyzed().toString(), qe.executedPlan().toString()
    assert analyzed.count("from_json(") == 1, analyzed
    assert "array(" not in analyzed, analyzed
    assert executed.count("TakeOrderedAndProject") == 1, executed
    assert "Exchange" not in executed, executed


def test_batch_topk_per_query(spark):
    emb = _emb(spark)
    queries = emb.where(F.col("id") <= 2).select(F.col("id").alias("qid"), F.col("embedding").alias("qvec"))
    out = R.batch_topk_join(queries, emb, k=2).collect()
    by_q = {}
    for r in out:
        by_q.setdefault(r.qid, []).append(r)
    assert set(by_q) == {1, 2}
    for q, rows in by_q.items():
        assert len(rows) == 2
        assert [r.rank for r in sorted(rows, key=lambda r: r.rank)] == [1, 2]
        assert sorted(rows, key=lambda r: r.rank)[0].id == q  # self is nearest


# --- bm25_search (r8, retrieval.py) -----------------------------------------

def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id LONG, text STRING")


def test_bm25_rare_term_outranks_common(spark):
    """idf: the doc matching the corpus-rare term must beat docs matching
    only the everywhere-term, at equal tf and length."""
    from mcp_synaptic_spark.operators.retrieval import bm25_search

    d = _docs(spark, [
        (1, "common rare pad1 pad2"),
        (2, "common other pad1 pad2"),
        (3, "common other pad3 pad4"),
        (4, "common other pad5 pad6"),
    ])
    out = bm25_search(d, "rare common", k=4).collect()
    assert out[0].doc_id == 1 and out[0].n_terms_matched == 2
    assert all(r.bm25 <= out[0].bm25 for r in out)


def test_bm25_tf_saturates_and_length_normalizes(spark):
    from mcp_synaptic_spark.operators.retrieval import bm25_search

    d = _docs(spark, [
        (1, "term x"),                       # tf=1, short
        (2, "term term term term term x"),   # tf=5, longer
        (3, "x y"),
    ])
    out = {r.doc_id: r.bm25 for r in bm25_search(d, "term", k=3).collect()}
    assert 3 not in out                      # non-matching doc absent
    assert out[2] > out[1] > 0               # higher tf wins, but...
    assert out[2] < 5 * out[1]               # ...sub-linearly (saturation)


def test_bm25_ties_break_on_doc_id(spark):
    from mcp_synaptic_spark.operators.retrieval import bm25_search

    d = _docs(spark, [(9, "a b"), (3, "a b"), (5, "a b")])
    out = [r.doc_id for r in bm25_search(d, "a", k=3).collect()]
    assert out == [3, 5, 9]


def test_bm25_empty_query_raises(spark):
    import pytest

    from mcp_synaptic_spark.operators.retrieval import bm25_search

    with pytest.raises(ValueError, match="non-empty"):
        bm25_search(_docs(spark, [(1, "a")]), "   ")


def test_bm25_case_insensitive_and_dedups_query_terms(spark):
    from mcp_synaptic_spark.operators.retrieval import bm25_search

    d = _docs(spark, [(1, "Alpha beta"), (2, "gamma beta")])
    a = {r.doc_id: r.bm25 for r in bm25_search(d, "ALPHA alpha", k=2).collect()}
    b = {r.doc_id: r.bm25 for r in bm25_search(d, "alpha", k=2).collect()}
    assert a == b and set(a) == {1}


def test_hybrid_rrf_fusion_semantics(spark):
    """RRF math, full-outer membership flags, and tie-break: a doc in both
    lists beats a doc holding rank 1 in only one list (1/61+1/62 > 1/61)."""
    from mcp_synaptic_spark.operators.retrieval import hybrid_search_rrf

    lex = spark.createDataFrame([(10, 1), (20, 2)], "doc_id LONG, rank INT")
    sem = spark.createDataFrame([(20, 1), (30, 2)], "doc_id LONG, rank INT")
    out = {r.doc_id: r for r in hybrid_search_rrf(lex, sem, k=3).collect()}
    assert set(out) == {10, 20, 30}
    assert out[20].rank == 1 and out[20].in_lexical and out[20].in_semantic
    assert round(1 / 62 + 1 / 61, 6) == out[20].rrf
    assert out[10].in_lexical and not out[10].in_semantic
    assert not out[30].in_lexical and out[30].in_semantic
    # 10 (lex rank 1) vs 30 (sem rank 2): 1/61 > 1/62
    assert out[10].rank == 2 and out[30].rank == 3


def test_hybrid_rrf_equal_scores_tie_break_on_id(spark):
    from mcp_synaptic_spark.operators.retrieval import hybrid_search_rrf

    lex = spark.createDataFrame([(7, 1), (3, 2)], "doc_id LONG, rank INT")
    sem = spark.createDataFrame([(3, 1), (7, 2)], "doc_id LONG, rank INT")
    out = [r.doc_id for r in hybrid_search_rrf(lex, sem, k=2).collect()]
    assert out == [3, 7]  # identical rrf; ascending id wins


def test_with_query_vec_keeps_null_vec_id_rows(spark):
    """The entry helper's broadcast equi-key must be NULL-SAFE (ADVICE r9):
    a NULL vec_id row previously got a NULL join key and was silently
    dropped by the inner join — and the plan must still be a
    BroadcastHashJoin (the non-foldable-key contract), not a BNLJ."""
    import __spark_entry__ as entry

    emb = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.5, 0.5]), (None, [0.0, 1.0])],
        "vec_id long, embedding array<float>",
    )
    out = entry._with_query_vec(emb, 0)
    assert out.count() == 3  # NULL vec_id row survives
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "BroadcastNestedLoopJoin" not in plan
