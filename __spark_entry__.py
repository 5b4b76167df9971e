"""Driver contract for the spark-graft builder (PySpark target).

entry(spark)      — flagship rag_search at sf0.001 (smoke check).
queries()         — one entry per implemented operator (SURVEY.md §2).
oracle_sql()      — DuckDB twins of every query for the correctness gate.

Column-name contract: every computed column is aliased identically in the
Spark plan and the oracle SQL; floats are rounded to 6 dp (aggregate money
sums to 2 dp) on BOTH sides; ordering ties are broken on unique ids so
limit/top-k selections are deterministic across engines.
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from mcp_synaptic_spark.functions.ttl import parse_ttl
from mcp_synaptic_spark.functions.vector import cosine_similarity
from mcp_synaptic_spark.operators import clustering as CL
from mcp_synaptic_spark.operators import dedup as D
from mcp_synaptic_spark.operators import pipeline as P
from mcp_synaptic_spark.operators import temporal as T
from mcp_synaptic_spark.operators import stats as ST
from mcp_synaptic_spark.operators import strings as SG
from mcp_synaptic_spark.operators import funnel as FN
from mcp_synaptic_spark.operators import retention as RTN
from mcp_synaptic_spark.operators import terms as TM
from mcp_synaptic_spark.operators import drift as DR
from mcp_synaptic_spark.operators import lm as LM
from mcp_synaptic_spark.operators.embedding_qa import dims_profile, embedding_screen
from mcp_synaptic_spark.operators.text_qa import text_screen
from mcp_synaptic_spark.operators import memory as M
from mcp_synaptic_spark.operators import rag as R
from mcp_synaptic_spark.operators import retrieval as RT
from mcp_synaptic_spark.operators.similarity import IVF_INDEX
from mcp_synaptic_spark.operators import text_analysis as TA
from mcp_synaptic_spark.sources.tables import load_table
from mcp_synaptic_spark.streaming import ingest as ING
from mcp_synaptic_spark.sources.memories import (
    MEMORIES_CTE_SQL,
    NOW_SQL,
    memories_from_events,
    now_col,
)


#: the checkout this module lives in: root of the committed index caches
#: and fixtures
_CHECKOUT = os.path.dirname(os.path.abspath(__file__))


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


# ---------------------------------------------------------------------------
# flagship
# ---------------------------------------------------------------------------

def entry(spark: SparkSession) -> DataFrame:
    """Flagship: Q13 rag_search (cosine top-k + threshold + rank) at sf0.001."""
    return _q_rag_search(spark, "/root/testdata/sf0.001")


# ---------------------------------------------------------------------------
# RAG / vector queries (SURVEY §2.9 Q13–Q19, §2.3 J1–J3)
# ---------------------------------------------------------------------------

def _with_query_vec(emb: DataFrame, qid: int) -> DataFrame:
    """Attach the query vector (row qid) to every row via a 1-row broadcast
    equi-join on a constant key — no driver-side collect; the vector rides
    with the plan.

    NOT a crossJoin (PLANS note 63/64): a crossJoin plans as
    BroadcastNestedLoopJoin, and any downstream score/threshold filter —
    referencing both sides — gets pushed into its join condition, which
    evaluates interpreted per corpus row. The constant-key equi-join plans
    as a BroadcastHashJoin instead, whose condition is generated inside the
    whole-stage-codegen probe loop and the surrounding pipeline keeps its
    codegen spans (a BNLJ breaks them).

    r11: rag.py now applies the threshold AFTER the top-k limit
    (set-identical; proof in rag_search's docstring), so no filter
    referencing the cosine is ever pushed into this join's condition —
    the scored projection computes the cosine ONCE per corpus row either
    way. The cosine itself STAYS the HOF fold on this 1xN path by
    MEASUREMENT, not by the old 3-copy argument: the r11 interleaved A/B
    (PLANS note 97) put the restructured unrolled dim-64 form at 0.55-0.65s
    per query vs 0.28-0.38s for the restructured HOF at sf0.1 — the full
    fixed-dim cosine is ~320 unrolled terms (dot + two norms, norms twice
    via the zero-guard CASE) and exceeds what HotSpot will JIT, while the
    pairwise dedup paths that DO win with unrolled code use the bare
    64-term dot_fixed against precomputed norms (dedup.py). The query
    vector goes to rag_search as the NAME "qv", a plain column reference
    in its one SQL statement."""
    # The key must be NON-FOLDABLE on both sides: lit(0) keys get
    # constant-propagated, the equality folds to true, and the planner is
    # back to a BNLJ. vec_id is nullable in the parquet schema, so the
    # optimizer cannot fold vec_id*0 -> 0 (null * 0 is null) and the
    # equi-key survives to drive a BroadcastHashJoin. The coalesce makes
    # the key NULL-SAFE on the corpus side (a NULL vec_id would otherwise
    # yield a NULL key that the inner join silently drops — ADVICE r9)
    # while staying non-foldable: the optimizer can't prove vec_id*0 is
    # always 0-or-null, so coalesce(vec_id*0, 0) doesn't fold either.
    _qk = F.coalesce(F.col("vec_id") * 0, F.lit(0)).cast("int")
    qrow = emb.where(F.col("vec_id") == qid).select(
        F.col("embedding").alias("qv"), _qk.alias("_qk")
    )
    return (
        emb.withColumn("_qk", _qk)
        .join(F.broadcast(qrow), "_qk")
        .drop("_qk")
    )


def _q_rag_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    res = R.rag_search(
        _with_query_vec(emb, 0), "qv", id_col="vec_id", threshold=0.0, limit=10
    )
    return res.select("vec_id", "distance", "score", "rank")


def _q_max_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A10 — standalone max-score / min-distance aggregate (previously only
    implicit as the ordering head of every rank pipeline; VERDICT r5
    coverage table). One corpus scan, partial max per partition merged into
    a single row — no sort, no shuffle of scores."""
    emb = _t(spark, sf_dir, "embeddings")
    scored = R.score_against(_with_query_vec(emb, 0), "qv", "embedding")
    return scored.agg(
        F.max("score").alias("max_score"), F.min("distance").alias("min_distance")
    )


def _q_rag_search_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    docs = _t(spark, sf_dir, "documents")
    res = R.rag_search(
        _with_query_vec(emb, 0),
        "qv",
        documents=docs,
        id_col="vec_id",
        doc_id_col="doc_id",
        threshold=0.0,
        limit=10,
        metadata_predicate=F.col("lang") == "en",
    )
    return res.select("vec_id", "lang", "score", "rank")


def _q_find_similar(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    res = R.find_similar(emb, 1, id_col="vec_id", threshold=0.0, limit=10)
    return res.select("vec_id", "score", "rank")


def _q_pairwise_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    return R.pairwise_similarity(emb, 1, 2, id_col="vec_id")


def _q_batch_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    # dim=64 (static for the testdata embeddings) switches the cosine to the
    # unrolled codegen form — bit-identical fold order (vector.py:dot_fixed),
    # but straight-line JVM code instead of an interpreted HOF per pair. The
    # HOF form's per-element closure garbage made this query's wall clock
    # GC-noise-bound (r5 bench: 2.7–14.4 s for the SAME plan, PLANS.md).
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    return R.batch_topk_join(queries, emb, k=3, id_col="vec_id", dim=64)


def _q_knn_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    return R.knn_classify(queries, emb, k=5, id_col="vec_id", dim=64)


_COS_SQL = (
    "CASE WHEN sqrt(list_dot_product({a}, {a})) = 0 OR sqrt(list_dot_product({b}, {b})) = 0 "
    "THEN 0.0 ELSE list_dot_product({a}, {b}) / "
    "(sqrt(list_dot_product({a}, {a})) * sqrt(list_dot_product({b}, {b}))) END"
)


def _cos(a: str, b: str) -> str:
    return _COS_SQL.format(a=a, b=b)


def _clamped_cos(a: str, b: str, lo: str) -> str:
    """The cosine clamped into [lo, 1] — rag.py `_scored_sql`'s clamps. A
    NULL cosine (a NULL vector or element, or a length unlike the
    query's) stays NULL: DuckDB's greatest/least, like Spark's, skip
    NULLs."""
    c = _cos(a, b)
    return f"CASE WHEN {c} IS NOT NULL THEN least(1.0, greatest({lo}, {c})) END"


_ORACLE_MAX_SCORE = f"""
WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0)
SELECT max(round({_clamped_cos('e.embedding::DOUBLE[]', 'q.qv', '0.0')}, 6)) AS max_score,
       min(round(1.0 - {_clamped_cos('e.embedding::DOUBLE[]', 'q.qv', '-1.0')}, 6)) AS min_distance
FROM embeddings e, q
"""

_ORACLE_RAG_SEARCH = f"""
WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0),
scored AS (
  SELECT e.vec_id,
         round(1.0 - {_clamped_cos('e.embedding::DOUBLE[]', 'q.qv', '-1.0')}, 6) AS distance,
         round({_clamped_cos('e.embedding::DOUBLE[]', 'q.qv', '0.0')}, 6) AS score
  FROM embeddings e, q
),
topk AS (
  SELECT * FROM scored WHERE score >= 0.0
  ORDER BY round(score, 9) DESC, vec_id ASC LIMIT 10
)
SELECT vec_id, distance, score,
       CAST(row_number() OVER (ORDER BY round(score, 9) DESC, vec_id ASC) AS INT) AS rank
FROM topk
"""

_ORACLE_RAG_SEARCH_FILTERED = f"""
WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0),
scored AS (
  SELECT e.vec_id, d.lang,
         round({_clamped_cos('e.embedding::DOUBLE[]', 'q.qv', '0.0')}, 6) AS score
  FROM embeddings e JOIN documents d ON e.vec_id = d.doc_id, q
  WHERE d.lang = 'en'
),
topk AS (
  SELECT * FROM scored WHERE score >= 0.0
  ORDER BY round(score, 9) DESC, vec_id ASC LIMIT 10
)
SELECT vec_id, lang, score,
       CAST(row_number() OVER (ORDER BY round(score, 9) DESC, vec_id ASC) AS INT) AS rank
FROM topk
"""

_ORACLE_FIND_SIMILAR = f"""
WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 1),
scored AS (
  SELECT e.vec_id,
         round({_clamped_cos('e.embedding::DOUBLE[]', 'q.qv', '0.0')}, 6) AS score
  FROM embeddings e, q WHERE e.vec_id != 1
),
topk AS (
  SELECT * FROM scored WHERE score >= 0.0
  ORDER BY round(score, 9) DESC, vec_id ASC LIMIT 10
)
SELECT vec_id, score,
       CAST(row_number() OVER (ORDER BY round(score, 9) DESC, vec_id ASC) AS INT) AS rank
FROM topk
"""

_ORACLE_PAIRWISE = f"""
SELECT '1' AS id_a, '2' AS id_b,
       round({_cos('a.embedding::DOUBLE[]', 'b.embedding::DOUBLE[]')}, 6) AS similarity
FROM (SELECT embedding FROM embeddings WHERE vec_id = 1) a,
     (SELECT embedding FROM embeddings WHERE vec_id = 2) b
"""

_ORACLE_BATCH_TOPK = f"""
WITH queries AS (SELECT vec_id AS qid, embedding::DOUBLE[] AS qvec FROM embeddings WHERE vec_id % 100 = 0),
scored AS (
  SELECT q.qid, e.vec_id,
         round(greatest(0.0, least(1.0, {_cos('e.embedding::DOUBLE[]', 'q.qvec')})), 6) AS score
  FROM embeddings e, queries q
),
ranked AS (
  SELECT qid, vec_id, score,
         CAST(row_number() OVER (PARTITION BY qid ORDER BY round(score, 9) DESC, vec_id ASC) AS INT) AS rank
  FROM scored
)
SELECT * FROM ranked WHERE rank <= 3
"""

_ORACLE_KNN = f"""
WITH queries AS (SELECT vec_id AS qid, embedding::DOUBLE[] AS qvec FROM embeddings WHERE vec_id % 100 = 0),
scored AS (
  SELECT q.qid, e.vec_id, e.label,
         round(greatest(0.0, least(1.0, {_cos('e.embedding::DOUBLE[]', 'q.qvec')})), 6) AS score
  FROM embeddings e, queries q
),
nn AS (
  SELECT * FROM (
    SELECT qid, vec_id, label, score,
           row_number() OVER (PARTITION BY qid ORDER BY round(score, 9) DESC, vec_id ASC) AS rn
    FROM scored) WHERE rn <= 5
),
votes AS (SELECT qid, label, count(*) AS votes FROM nn GROUP BY qid, label)
SELECT qid, label AS predicted_label, votes FROM (
  SELECT *, row_number() OVER (PARTITION BY qid ORDER BY votes DESC, label ASC) AS rn FROM votes
) WHERE rn = 1
"""


# ---------------------------------------------------------------------------
# memory-engine queries (SURVEY §2.9 Q1–Q8) over the derived memories state
# ---------------------------------------------------------------------------

def _memories(spark: SparkSession, sf_dir: str) -> DataFrame:
    return memories_from_events(_t(spark, sf_dir, "events"))


_MEM_COLS = [
    "key", "memory_type", "expiration_policy", "created_at",
    "ttl_seconds", "access_count", "expires_at",
]


def _q_memory_list(spark: SparkSession, sf_dir: str) -> DataFrame:
    res = M.memory_list(
        _memories(spark, sf_dir),
        now_col(),
        memory_types=["short_term", "long_term"],
        limit=20,
        offset=5,
    )
    return res.select(*_MEM_COLS)


def _q_memory_list_expired(spark: SparkSession, sf_dir: str) -> DataFrame:
    res = M.memory_list(_memories(spark, sf_dir), now_col(), include_expired=True, limit=15, offset=0)
    return res.select(*_MEM_COLS)


_LIST_KEYS = ["mem-5", "mem-7", "mem-11", "mem-20", "mem-33", "no-such-key"]


def _q_memory_list_by_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F1 — keys IN filter (reference memory/storage/sqlite.py:152-155),
    include_expired so the result isolates the key filter itself."""
    res = M.memory_list(
        _memories(spark, sf_dir), now_col(), keys=_LIST_KEYS, include_expired=True, limit=10
    )
    return res.select(*_MEM_COLS)


_ORACLE_MEMORY_LIST_BY_KEYS = f"""
WITH {MEMORIES_CTE_SQL.strip()}
SELECT key, memory_type, expiration_policy, created_at, ttl_seconds, access_count, expires_at
FROM memories_derived
WHERE key IN ({", ".join(repr(k) for k in _LIST_KEYS)})
ORDER BY created_at ASC, key ASC LIMIT 10
"""


def _q_memory_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return M.memory_stats(_memories(spark, sf_dir), now_col())


def _q_memory_stats_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    return M.memory_stats_by_type(_memories(spark, sf_dir))


def _q_cleanup_expired_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    return M.expired_count(_memories(spark, sf_dir), now_col())


def _q_memories_live_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    live = M.memories_live(_memories(spark, sf_dir), now_col())
    return live.groupBy("memory_type").agg(F.count("*").alias("live_cnt"))


def _q_parse_ttl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X1 — parse_ttl over deterministic TTL strings built from event ids."""
    ev = _t(spark, sf_dir, "events")
    unit = (
        F.when(F.col("event_id") % 5 == 0, "s")
        .when(F.col("event_id") % 5 == 1, "m")
        .when(F.col("event_id") % 5 == 2, "h")
        .when(F.col("event_id") % 5 == 3, "d")
        .otherwise("")
    )
    ttl_str = F.concat((F.col("event_id") % 90).cast("string"), unit)
    return ev.select(
        F.col("event_id"), ttl_str.alias("ttl_str"), parse_ttl(ttl_str).alias("ttl_seconds")
    ).where(F.col("event_id") < 500)


_MEM_SELECT = ", ".join(_MEM_COLS)

_ORACLE_MEMORY_LIST = f"""
WITH {MEMORIES_CTE_SQL.strip()}
SELECT {_MEM_SELECT} FROM memories_derived
WHERE memory_type IN ('short_term', 'long_term')
  AND (expires_at IS NULL OR expires_at > {NOW_SQL})
ORDER BY created_at ASC, key ASC LIMIT 20 OFFSET 5
"""

_ORACLE_MEMORY_LIST_EXPIRED = f"""
WITH {MEMORIES_CTE_SQL.strip()}
SELECT {_MEM_SELECT} FROM memories_derived
ORDER BY created_at ASC, key ASC LIMIT 15
"""

_ORACLE_MEMORY_STATS = f"""
WITH {MEMORIES_CTE_SQL.strip()}
SELECT
  count(*) AS total_memories,
  CAST(sum(CASE WHEN expires_at IS NOT NULL AND {NOW_SQL} >= expires_at THEN 1 ELSE 0 END) AS BIGINT) AS expired_memories,
  round(avg(ttl_seconds), 6) AS avg_ttl_seconds,
  min(created_at) AS oldest_memory,
  max(created_at) AS newest_memory,
  max(access_count) AS max_access_count,
  CAST(sum(strlen(data)) AS BIGINT) AS total_size_bytes
FROM memories_derived
"""

_ORACLE_MEMORY_STATS_BY_TYPE = f"""
WITH {MEMORIES_CTE_SQL.strip()}
SELECT memory_type, count(*) AS cnt FROM memories_derived GROUP BY memory_type
"""

_ORACLE_CLEANUP_EXPIRED = f"""
WITH {MEMORIES_CTE_SQL.strip()}
SELECT CAST(sum(CASE WHEN expires_at IS NOT NULL AND expires_at <= {NOW_SQL} THEN 1 ELSE 0 END) AS BIGINT) AS expired_count
FROM memories_derived
"""

_ORACLE_MEMORIES_LIVE = f"""
WITH {MEMORIES_CTE_SQL.strip()}
SELECT memory_type, count(*) AS live_cnt FROM memories_derived
WHERE expires_at IS NULL OR expires_at > {NOW_SQL}
GROUP BY memory_type
"""

_ORACLE_PARSE_TTL = """
WITH t AS (
  SELECT event_id,
    CAST(event_id % 90 AS VARCHAR) ||
    CASE WHEN event_id % 5 = 0 THEN 's'
         WHEN event_id % 5 = 1 THEN 'm'
         WHEN event_id % 5 = 2 THEN 'h'
         WHEN event_id % 5 = 3 THEN 'd'
         ELSE '' END AS ttl_str
  FROM events WHERE event_id < 500
)
SELECT event_id, ttl_str,
  CASE WHEN regexp_extract(ttl_str, '^(\\d+)\\s*([smhdw]?)$', 1) = '' THEN NULL
       ELSE CAST(regexp_extract(ttl_str, '^(\\d+)\\s*([smhdw]?)$', 1) AS BIGINT) *
            CASE regexp_extract(ttl_str, '^(\\d+)\\s*([smhdw]?)$', 2)
              WHEN 's' THEN 1 WHEN 'm' THEN 60 WHEN 'h' THEN 3600
              WHEN 'd' THEN 86400 WHEN 'w' THEN 604800 ELSE 1 END
  END AS ttl_seconds
FROM t
"""


# ---------------------------------------------------------------------------
# document stats (Q14) — A1/A4/A5/A6/A7 in one pass
# ---------------------------------------------------------------------------

def _q_doc_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    words = F.when(F.trim(F.col("text")) == "", 0).otherwise(
        F.size(F.split(F.trim(F.col("text")), r"\s+"))
    )
    return docs.agg(
        F.count("*").alias("total_documents"),
        F.sum(F.length("text")).alias("total_content_length"),
        F.sum(words).alias("total_words"),
        F.round(F.avg(F.length("text")), 6).alias("avg_content_length"),
        F.countDistinct("lang").alias("distinct_langs"),
        F.countDistinct("source").alias("distinct_sources"),
    )


_ORACLE_DOC_STATS = """
SELECT
  count(*) AS total_documents,
  CAST(sum(length(text)) AS BIGINT) AS total_content_length,
  CAST(sum(CASE WHEN trim(text) = '' THEN 0 ELSE len(regexp_split_to_array(trim(text), '\\s+')) END) AS BIGINT) AS total_words,
  round(avg(length(text)), 6) AS avg_content_length,
  count(DISTINCT lang) AS distinct_langs,
  count(DISTINCT source) AS distinct_sources
FROM documents
"""


# ---------------------------------------------------------------------------
# relational suite (generic operators over the TPC-H-ish star schema)
# ---------------------------------------------------------------------------

def _q_tpch_q1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: multi-aggregate groupBy with computed measures —
    exercises map-side partial aggregation (A1–A6 analogues)."""
    li = _t(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    return (
        li.where(F.col("l_shipdate") <= F.to_timestamp(F.lit("2024-06-01 00:00:00")))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(disc_price), 2).alias("sum_disc_price"),
            F.round(F.sum(charge), 2).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 6).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 6).alias("avg_price"),
            F.round(F.avg("l_discount"), 6).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


_ORACLE_TPCH_Q1 = """
SELECT l_returnflag, l_linestatus,
  round(sum(l_quantity), 2) AS sum_qty,
  round(sum(l_extendedprice), 2) AS sum_base_price,
  round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
  round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
  round(avg(l_quantity), 6) AS avg_qty,
  round(avg(l_extendedprice), 6) AS avg_price,
  round(avg(l_discount), 6) AS avg_disc,
  count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '2024-06-01 00:00:00'
GROUP BY l_returnflag, l_linestatus
"""


def _q_tpch_q3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: 3-way join + agg + top-k — the small dims broadcast."""
    cust = _t(spark, sf_dir, "customer").where(F.col("c_mktsegment") == "BUILDING")
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("o_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.round(F.sum(revenue), 2).alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("o_orderkey").asc())
        .limit(10)
    )


_ORACLE_TPCH_Q3 = """
SELECT o_orderkey, o_orderdate, o_orderpriority,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = 'BUILDING'
GROUP BY o_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, o_orderkey ASC LIMIT 10
"""


def _q_tpch_q5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: 6-way snowflake join — dims broadcast, facts co-shuffle."""
    region = _t(spark, sf_dir, "region")
    nation = _t(spark, sf_dir, "nation")
    cust = _t(spark, sf_dir, "customer")
    supp = _t(spark, sf_dir, "supplier")
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .where(F.col("c_nationkey") == F.col("s_nationkey"))
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy("n_name")
        .agg(F.round(F.sum(revenue), 2).alias("revenue"))
    )


_ORACLE_TPCH_Q5 = """
SELECT n_name, round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
JOIN nation ON s_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY n_name
"""


def _q_events_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling-window aggregate over the events table (batch twin of the
    streaming slice §2.10): 1-hour windows per event_type."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.window(F.col("ts"), "1 hour").getField("start").alias("window_start"),
            F.col("event_type"),
        )
        .agg(F.count("*").alias("n_events"), F.round(F.sum("value"), 2).alias("total_value"))
    )


_ORACLE_EVENTS_HOURLY = """
SELECT date_trunc('hour', ts) AS window_start, event_type,
       count(*) AS n_events, round(sum(value), 2) AS total_value
FROM events GROUP BY 1, 2
"""


def _q_events_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X19 — JSON payload surface: extract props.k, aggregate per bucket."""
    ev = _t(spark, sf_dir, "events")
    k = F.get_json_object(F.col("props"), "$.k").cast("int")
    return (
        ev.select(k.alias("k"), F.col("value"))
        .groupBy((F.col("k") % 10).alias("k_bucket"))
        .agg(F.count("*").alias("n"), F.round(F.avg("value"), 6).alias("avg_value"))
    )


_ORACLE_EVENTS_JSON = """
SELECT CAST(json_extract_string(props, '$.k') AS INT) % 10 AS k_bucket,
       count(*) AS n, round(avg(value), 6) AS avg_value
FROM events GROUP BY 1
"""


# ---------------------------------------------------------------------------
# memory state transitions (Q1–Q4, Q8) — transform applied, post-state checked
# ---------------------------------------------------------------------------

def _q_memory_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q1 — upsert a deterministic batch of updates (every key ending in 7
    gets new data + bumped update time), then show the post-state slice."""
    mem = _memories(spark, sf_dir)
    updates = (
        mem.where(F.col("key").endswith("7"))
        .withColumn("data", F.lit('{"updated": true}'))
        .withColumn("updated_at", now_col())
    )
    out = M.upsert_by_key(mem, updates)
    return out.where(F.col("key").endswith("7") | F.col("key").endswith("1")).select(
        "key", "data", "updated_at"
    )


_ORACLE_MEMORY_UPSERT = f"""
WITH {MEMORIES_CTE_SQL.strip()},
updates AS (
  SELECT key, '{{"updated": true}}' AS data, {NOW_SQL} AS updated_at
  FROM memories_derived WHERE key LIKE '%7'
),
merged AS (
  SELECT key, data, updated_at, 0 AS prio FROM memories_derived
  UNION ALL SELECT key, data, updated_at, 1 AS prio FROM updates
),
dedup AS (
  SELECT *, row_number() OVER (PARTITION BY key ORDER BY prio DESC, updated_at DESC) AS rn
  FROM merged
)
SELECT key, data, updated_at FROM dedup
WHERE rn = 1 AND (key LIKE '%7' OR key LIKE '%1')
"""


def _q_memory_upsert_txn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q1/S2 through the ACID backend (state/txn.py): the SAME deterministic
    update batch as memory_upsert, but executed as real table commits —
    create (version 0), one optimistic upsert commit (version 1), read the
    committed state back from disk. Graded against the SAME pure-transform
    oracle (_ORACLE_MEMORY_UPSERT): the commit protocol, the delta and its
    key-set resolution, and parquet round-trip may not change a single row. The table
    root is recreated per call (deterministic, idempotent; temp-dir ETL —
    bench.py skips write-path queries, see its SKIP note)."""
    import shutil
    import tempfile

    from mcp_synaptic_spark.state.txn import TxnTable

    mem = _memories(spark, sf_dir)
    updates = (
        mem.where(F.col("key").endswith("7"))
        .withColumn("data", F.lit('{"updated": true}'))
        .withColumn("updated_at", now_col())
    )
    path = os.path.join(
        tempfile.gettempdir(), "spark_graft_txn_upsert_" + sf_dir.strip("/").replace("/", "_")
    )
    shutil.rmtree(path, ignore_errors=True)
    t = TxnTable.create(spark, path, mem)
    t.upsert(updates)
    return t.read().where(F.col("key").endswith("7") | F.col("key").endswith("1")).select(
        "key", "data", "updated_at"
    )


def _q_memory_upsert_mor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """memory_upsert through two merge-on-read generations (state/txn.py):
    TWO upserts land as deltas — the first updates every key ending in 7,
    the second SHADOWS the subset ending in 77 with newer data — and the
    returned frame is the resolved read: base rows screened by the delta
    key-set literal, each delta row kept only from its key's latest delta
    (the 77 keys repeat, so the read matches rows to their directory; at
    sf0.01 the second batch takes the deltas past the 1,000-key bound and
    its commit compacts, writing that resolved read as the new base; from
    sf0.1 up each batch alone passes the bound and folds into one rewrite
    of the base). A hash-green
    row certifies commit-order LWW across generations end-to-end
    (the oracle is the pure prio-windowed transform — no row may differ).
    Table root recreated per call (temp-dir ETL; bench.py skips write-path
    queries)."""
    import shutil
    import tempfile

    from mcp_synaptic_spark.state.txn import TxnTable

    mem = _memories(spark, sf_dir)
    u1 = (
        mem.where(F.col("key").endswith("7"))
        .withColumn("data", F.lit('{"updated": true}'))
        .withColumn("updated_at", now_col())
    )
    u2 = (
        mem.where(F.col("key").endswith("77"))
        .withColumn("data", F.lit('{"updated": 2}'))
        .withColumn("updated_at", now_col())
    )
    path = os.path.join(
        tempfile.gettempdir(), "spark_graft_txn_mor_" + sf_dir.strip("/").replace("/", "_")
    )
    shutil.rmtree(path, ignore_errors=True)
    t = TxnTable.create(spark, path, mem)
    t.upsert(u1)
    t.upsert(u2)
    return t.read().where(F.col("key").endswith("7") | F.col("key").endswith("1")).select(
        "key", "data", "updated_at"
    )


_ORACLE_MEMORY_UPSERT_MOR = f"""
WITH {MEMORIES_CTE_SQL.strip()},
u1 AS (
  SELECT key, '{{"updated": true}}' AS data, {NOW_SQL} AS updated_at
  FROM memories_derived WHERE key LIKE '%7'
),
u2 AS (
  SELECT key, '{{"updated": 2}}' AS data, {NOW_SQL} AS updated_at
  FROM memories_derived WHERE key LIKE '%77'
),
merged AS (
  SELECT key, data, updated_at, 0 AS prio FROM memories_derived
  UNION ALL SELECT key, data, updated_at, 1 AS prio FROM u1
  UNION ALL SELECT key, data, updated_at, 2 AS prio FROM u2
),
dedup AS (
  SELECT *, row_number() OVER (PARTITION BY key ORDER BY prio DESC, updated_at DESC) AS rn
  FROM merged
)
SELECT key, data, updated_at FROM dedup
WHERE rn = 1 AND (key LIKE '%7' OR key LIKE '%1')
"""


def _q_memory_upsert_ckpt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """memory_upsert_txn through the r8 checkpoint-compaction lifecycle
    (state/txn.py): create + upsert with checkpoint_interval=1 (checkpoint
    at every version), then compact() and clean_log() — the committed state
    is finally read back AFTER the original commit files are truncated, so
    the query grades checkpoint write, _last_checkpoint hint, log cleaning,
    and the read-from-checkpoint fallback end-to-end against the same pure-
    transform oracle as memory_upsert (no row may change)."""
    import shutil
    import tempfile

    from mcp_synaptic_spark.state.txn import TxnTable

    mem = _memories(spark, sf_dir)
    updates = (
        mem.where(F.col("key").endswith("7"))
        .withColumn("data", F.lit('{"updated": true}'))
        .withColumn("updated_at", now_col())
    )
    path = os.path.join(
        tempfile.gettempdir(), "spark_graft_txn_ckpt_" + sf_dir.strip("/").replace("/", "_")
    )
    shutil.rmtree(path, ignore_errors=True)
    t = TxnTable.create(spark, path, mem, checkpoint_interval=1)
    t.upsert(updates)        # v1 (+ checkpoint 1)
    # the same batch again: last-writer-wins over identical rows is a state
    # no-op but advances the log — v2 (+ checkpoint 2). At sf0.01 both
    # upserts are deltas and the second takes them past the 1,000-key bound,
    # so its writer compacts them into one base as v3; from sf0.1 up each
    # batch alone passes the bound and folds into one rewrite of the base.
    t.upsert(updates)
    cleaned = t.clean_log()  # truncates every commit before the latest
    assert cleaned == list(range(t.version())), cleaned
    t.vacuum(keep_from_version=t.version())
    return t.read().where(F.col("key").endswith("7") | F.col("key").endswith("1")).select(
        "key", "data", "updated_at"
    )


def _q_memory_snapshot_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot isolation graded end-to-end (state/txn.py) — new late-r8:
    create (v0) → the standard upsert batch (v1) → READ VERSION 0. The
    time-travel read must reproduce the ORIGINAL pre-upsert state exactly
    (the oracle is the plain memories derivation with no update applied):
    a v0 reader is unaffected by the later commit — the property optimistic
    concurrency promises and `read(version=...)` serves from the immutable
    live-set listing."""
    import shutil
    import tempfile

    from mcp_synaptic_spark.state.txn import TxnTable

    mem = _memories(spark, sf_dir)
    updates = (
        mem.where(F.col("key").endswith("7"))
        .withColumn("data", F.lit('{"updated": true}'))
        .withColumn("updated_at", now_col())
    )
    path = os.path.join(
        tempfile.gettempdir(), "spark_graft_txn_snap_" + sf_dir.strip("/").replace("/", "_")
    )
    shutil.rmtree(path, ignore_errors=True)
    t = TxnTable.create(spark, path, mem)
    t.upsert(updates)  # v1 — must NOT leak into the v0 snapshot below
    return t.read(version=0).where(
        F.col("key").endswith("7") | F.col("key").endswith("1")
    ).select("key", "data", "updated_at")


#: the pre-upsert state: the same slice memory_upsert grades, WITHOUT the
#: update applied — exactly what a version-0 reader must see
_ORACLE_MEMORY_SNAPSHOT = f"""
WITH {MEMORIES_CTE_SQL.strip()}
SELECT key, data, updated_at FROM memories_derived
WHERE key LIKE '%7' OR key LIKE '%1'
"""


def _q_memory_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q2/X10 — touch two keys; emit them plus an untouched control row.

    Pins the reference's get-on-expired contract (operations.py:74-79): a
    touch landing on an expired row DELETES it (no resurrection). mem-1 is
    expired at sf0.01/sf0.1 (vanishes) but live at sf0.001 (touched);
    mem-5 is 'never'-policy at every sf (always touched); mem-2 is the
    untouched control. One predicated rewrite for the whole key batch —
    NOT a chained per-key pass (VERDICT r5 #7)."""
    out = M.memory_touch(_memories(spark, sf_dir), ["mem-1", "mem-5"], now_col())
    return out.where(F.col("key").isin(["mem-1", "mem-2", "mem-5"])).select(
        "key", "access_count", "last_accessed_at", "expires_at"
    )


_ORACLE_MEMORY_TOUCH = f"""
WITH {MEMORIES_CTE_SQL.strip()}
SELECT key,
  CASE WHEN key IN ('mem-1', 'mem-5') THEN access_count + 1 ELSE access_count END AS access_count,
  CASE WHEN key IN ('mem-1', 'mem-5') THEN {NOW_SQL} ELSE last_accessed_at END AS last_accessed_at,
  CASE WHEN key IN ('mem-1', 'mem-5') AND expiration_policy = 'sliding'
            AND ttl_seconds IS NOT NULL AND ttl_seconds > 0
       THEN {NOW_SQL} + ttl_seconds * INTERVAL '1 second'
       ELSE expires_at END AS expires_at
FROM memories_derived WHERE key IN ('mem-1', 'mem-2', 'mem-5')
  AND NOT (key IN ('mem-1', 'mem-5') AND expires_at IS NOT NULL AND expires_at <= {NOW_SQL})
"""


def _q_memory_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q4 — delete by key; verify via post-state count + absence flag."""
    out = M.memory_delete(_memories(spark, sf_dir), "mem-3")
    return out.agg(
        F.count("*").alias("n_after"),
        F.sum((F.col("key") == "mem-3").cast("long")).alias("deleted_still_present"),
    )


_ORACLE_MEMORY_DELETE = f"""
WITH {MEMORIES_CTE_SQL.strip()}
SELECT count(*) AS n_after,
       CAST(sum(CASE WHEN key = 'mem-3' THEN 1 ELSE 0 END) AS BIGINT) AS deleted_still_present
FROM memories_derived WHERE key != 'mem-3'
"""


def _q_memory_exists(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q8 — exists(): live row check for a present key and an absent one."""
    mem = _memories(spark, sf_dir)
    hit = M.memory_exists(mem, "mem-2", now_col()).agg(F.count("*").alias("n"))
    miss = M.memory_exists(mem, "no-such-key", now_col()).agg(F.count("*").alias("n"))
    return (
        hit.select(F.lit("mem-2").alias("key"), F.col("n").alias("exists_live"))
        .unionByName(miss.select(F.lit("no-such-key").alias("key"), F.col("n").alias("exists_live")))
    )


_ORACLE_MEMORY_EXISTS = f"""
WITH {MEMORIES_CTE_SQL.strip()}
SELECT 'mem-2' AS key,
  (SELECT count(*) FROM memories_derived
   WHERE key = 'mem-2' AND (expires_at IS NULL OR expires_at > {NOW_SQL})) AS exists_live
UNION ALL
SELECT 'no-such-key',
  (SELECT count(*) FROM memories_derived
   WHERE key = 'no-such-key' AND (expires_at IS NULL OR expires_at > {NOW_SQL}))
"""


def _q_memory_update(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q3 — update mem-2: replace data, MERGE tags (X20 right-biased
    dict.update), extend TTL with expires_at recomputed per policy (X9);
    mem-4 rides along untouched as the control."""
    out = M.memory_update(
        _memories(spark, sf_dir),
        "mem-2",
        now_col(),
        data='{"patched": true}',
        tags={"reviewed": "yes", "priority": "high"},
        extend_ttl=7200,
    )
    return out.where(F.col("key").isin(["mem-2", "mem-4"])).select(
        "key",
        "data",
        F.to_json(F.col("tags")).alias("tags_json"),
        "updated_at",
        "ttl_seconds",
        "expires_at",
    )


_ORACLE_MEMORY_UPDATE = f"""
WITH {MEMORIES_CTE_SQL.strip()}
SELECT key,
  CASE WHEN key = 'mem-2' THEN '{{"patched": true}}' ELSE data END AS data,
  CASE WHEN key = 'mem-2'
       THEN '{{"src":"events","bucket":"2","reviewed":"yes","priority":"high"}}'
       ELSE '{{"src":"events","bucket":"1"}}' END AS tags_json,
  CASE WHEN key = 'mem-2' THEN {NOW_SQL} ELSE updated_at END AS updated_at,
  CASE WHEN key = 'mem-2' THEN 7200 ELSE ttl_seconds END AS ttl_seconds,
  CASE WHEN key = 'mem-2' THEN
    CASE WHEN expiration_policy = 'never' THEN NULL
         WHEN expiration_policy = 'sliding'
           THEN last_accessed_at + 7200 * INTERVAL '1 second'
         ELSE created_at + 7200 * INTERVAL '1 second' END
    ELSE expires_at END AS expires_at
FROM memories_derived WHERE key IN ('mem-2', 'mem-4')
"""


def _q_memory_access_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X10/§2.10 — touch-as-a-stream: replay an access log (derived from
    events: each event touches key 'mem-<event_id % 500>') against the
    memories state with the reference's full get() semantics
    (operations.py:66-86): pre-creation accesses are misses, live accesses
    touch (sliding rows slide expires_at), an access on an expired row
    DELETES it and later accesses are misses. The per-key ordered fold is
    pure window functions — lag + running min — no UDF state."""
    mem = _memories(spark, sf_dir)
    ev = _t(spark, sf_dir, "events")
    keys = ["mem-5", "mem-7", "mem-42", "mem-9999"]
    access = ev.select(
        F.concat(F.lit("mem-"), (F.col("event_id") % 500).cast("string")).alias("key"),
        F.col("ts"),
    )
    # manual pushdown of the output's key filter (r16, guide §2.3): the
    # fold is per-key independent (join + windows all partition by key), so
    # filtering BOTH inputs to the probed keys is output-identical — but
    # Catalyst cannot push the filter itself: `key` is derived
    # (concat/modulo) on the access side and the fold's window/aggregate
    # sit between the filter and the scans. Before: 3 full events scans +
    # corpus-wide window shuffles for a 4-row answer.
    access = access.where(F.col("key").isin(keys))
    out = M.apply_access_log(mem.where(F.col("key").isin(keys)), access)
    return out.where(F.col("key").isin(keys)).select(
        "key", "access_count", "last_accessed_at", "expires_at"
    )


_ORACLE_MEMORY_ACCESS_REPLAY = f"""
WITH {MEMORIES_CTE_SQL.strip()},
access AS (
  SELECT 'mem-' || (event_id % 500) AS key, ts FROM events
),
j AS (
  SELECT a.key, a.ts, m.expires_at AS e0, m.expiration_policy AS pol, m.ttl_seconds AS ttl
  FROM access a JOIN memories_derived m USING (key)
  WHERE a.ts >= m.created_at
),
bound AS (
  SELECT key, ts,
    CASE WHEN pol = 'sliding' AND ttl IS NOT NULL AND ttl > 0
              AND lag(ts) OVER w IS NOT NULL
         THEN lag(ts) OVER w + ttl * INTERVAL '1 second'
         ELSE e0 END AS boundary
  FROM j WINDOW w AS (PARTITION BY key ORDER BY ts)
),
flags AS (
  SELECT key, ts, CASE WHEN boundary IS NULL OR ts < boundary THEN 1 ELSE 0 END AS ok
  FROM bound
),
cum AS (
  SELECT key, ts, ok,
         min(ok) OVER (PARTITION BY key ORDER BY ts ROWS UNBOUNDED PRECEDING) AS alive
  FROM flags
),
per_key AS (
  SELECT key, sum(alive) AS n_alive,
         max(CASE WHEN alive = 1 THEN ts END) AS last_alive,
         min(ok) AS all_ok
  FROM cum GROUP BY key
)
SELECT key,
  CASE WHEN n_alive IS NOT NULL AND n_alive > 0
       THEN access_count + CAST(n_alive AS INT) ELSE access_count END AS access_count,
  CASE WHEN n_alive IS NOT NULL AND n_alive > 0
       THEN greatest(coalesce(last_accessed_at, last_alive), last_alive)
       ELSE last_accessed_at END AS last_accessed_at,
  CASE WHEN n_alive IS NOT NULL AND n_alive > 0 AND expiration_policy = 'sliding'
            AND ttl_seconds IS NOT NULL AND ttl_seconds > 0
       THEN greatest(coalesce(last_accessed_at, last_alive), last_alive) + ttl_seconds * INTERVAL '1 second'
       ELSE expires_at END AS expires_at
FROM memories_derived m LEFT JOIN per_key p USING (key)
WHERE (all_ok IS NULL OR all_ok = 1) AND key IN ('mem-5', 'mem-7', 'mem-42', 'mem-9999')
"""


_FMT_DUR_SQL = """
CASE WHEN {s} IS NULL THEN NULL
     WHEN {s} < 60 THEN ({s} % 60) || 's'
     WHEN {s} < 3600 THEN
       CASE WHEN {s} % 60 > 0 THEN ({s} // 60) || 'm ' || ({s} % 60) || 's'
            ELSE ({s} // 60) || 'm' END
     WHEN {s} < 86400 THEN
       CASE WHEN ({s} % 3600) // 60 > 0
            THEN ({s} // 3600) || 'h ' || (({s} % 3600) // 60) || 'm'
            ELSE ({s} // 3600) || 'h' END
     ELSE
       CASE WHEN ({s} % 86400) // 3600 > 0
            THEN ({s} // 86400) || 'd ' || (({s} % 86400) // 3600) || 'h'
            ELSE ({s} // 86400) || 'd' END
END
"""


def _q_memory_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X5 + X8 + X14 + X16 in one projection: human TTL, record age,
    recency flag, payload byte size, key validity."""
    from mcp_synaptic_spark.functions import ttl as TTLF
    from mcp_synaptic_spark.functions import text as TXF

    mem = _memories(spark, sf_dir)
    return mem.select(
        "key",
        TTLF.format_duration(F.col("ttl_seconds")).alias("ttl_human"),
        TTLF.age_in_seconds(F.col("created_at"), now_col()).alias("age_s"),
        TTLF.is_recent(F.col("created_at"), now_col(), 86400).alias("recent_1d"),
        TXF.size_bytes(F.col("data")).alias("data_bytes"),
        TXF.is_valid_key(F.col("key")).alias("key_ok"),
    )


_ORACLE_MEMORY_REPORT = f"""
WITH {MEMORIES_CTE_SQL.strip()}
SELECT key,
  {_FMT_DUR_SQL.format(s="ttl_seconds").strip()} AS ttl_human,
  CAST(epoch({NOW_SQL}) - floor(epoch(created_at)) AS BIGINT) AS age_s,
  (epoch({NOW_SQL}) - floor(epoch(created_at))) <= 86400 AS recent_1d,
  CAST(strlen(data) AS INT) AS data_bytes,
  (length(key) > 0 AND length(key) <= 255
   AND regexp_full_match(key, '[a-zA-Z0-9_\\-\\.]+')) AS key_ok
FROM memories_derived
"""


# ---------------------------------------------------------------------------
# F4 tag/created-range filters + X4 time-until-expiry + X7 multi-format parse
# ---------------------------------------------------------------------------

def _q_filter_tags_created(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F4 — tag-equality + created-range filters (declared in MemoryQuery,
    reference models/memory.py:138-161; unimplemented by every reference
    backend, implemented here). include_expired=True isolates F4 from F3."""
    res = M.memory_list(
        _memories(spark, sf_dir),
        now_col(),
        include_expired=True,
        tags={"bucket": "1"},
        created_after=F.to_timestamp(F.lit("2024-01-05 00:00:00")),
        created_before=F.to_timestamp(F.lit("2024-01-20 00:00:00")),
        limit=25,
        offset=0,
    )
    return res.select(*_MEM_COLS)


_ORACLE_FILTER_TAGS_CREATED = f"""
WITH {MEMORIES_CTE_SQL.strip()}
SELECT {_MEM_SELECT} FROM memories_derived
WHERE tag_bucket = '1'
  AND created_at > TIMESTAMP '2024-01-05 00:00:00'
  AND created_at < TIMESTAMP '2024-01-20 00:00:00'
ORDER BY created_at ASC, key ASC LIMIT 25
"""


def _q_time_until_expiry(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X4 — seconds until expiry, clamped at 0; NULL = never expires
    (reference utils/date_utils.py:95-107) + its X5 human rendering."""
    from mcp_synaptic_spark.functions import ttl as TTLF

    mem = _memories(spark, sf_dir)
    left = TTLF.time_until_expiry(F.col("expires_at"), now_col())
    return mem.select(
        "key", left.alias("secs_left"), TTLF.format_duration(left).alias("human_left")
    )


_ORACLE_TIME_UNTIL_EXPIRY = f"""
WITH {MEMORIES_CTE_SQL.strip()},
base AS (
  SELECT key,
    CASE WHEN expires_at IS NULL THEN NULL
         ELSE greatest(0, CAST(floor(epoch(expires_at)) AS BIGINT)
                          - CAST(epoch({NOW_SQL}) AS BIGINT))
    END AS secs_left
  FROM memories_derived
)
SELECT key, secs_left, {_FMT_DUR_SQL.format(s="secs_left").strip()} AS human_left
FROM base
"""


def _q_ts_parse_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X7 — multi-format timestamp parse (reference utils/date_utils.py:128-156):
    render each event ts in one of four layouts by event_id, parse back through
    the try_to_timestamp fallback chain (pure expressions, no UDF)."""
    from mcp_synaptic_spark.functions.ttl import parse_timestamp_multi

    ev = _t(spark, sf_dir, "events")
    raw = (
        F.when(F.col("event_id") % 4 == 0, F.date_format("ts", "yyyy-MM-dd'T'HH:mm:ss"))
        .when(F.col("event_id") % 4 == 1, F.date_format("ts", "yyyy-MM-dd HH:mm:ss"))
        .when(F.col("event_id") % 4 == 2, F.date_format("ts", "dd/MM/yyyy HH:mm:ss"))
        .otherwise(F.date_format("ts", "yyyy-MM-dd"))
    )
    return ev.where(F.col("event_id") < 400).select(
        "event_id", raw.alias("raw_ts"), parse_timestamp_multi(raw).alias("parsed_ts")
    )


_ORACLE_TS_PARSE_MULTI = """
WITH t AS (
  SELECT event_id,
    CASE WHEN event_id % 4 = 0 THEN strftime(ts, '%Y-%m-%dT%H:%M:%S')
         WHEN event_id % 4 = 1 THEN strftime(ts, '%Y-%m-%d %H:%M:%S')
         WHEN event_id % 4 = 2 THEN strftime(ts, '%d/%m/%Y %H:%M:%S')
         ELSE strftime(ts, '%Y-%m-%d') END AS raw_ts
  FROM events WHERE event_id < 400
)
SELECT event_id, raw_ts,
  coalesce(
    try_strptime(raw_ts, '%Y-%m-%dT%H:%M:%S'),
    try_strptime(raw_ts, '%Y-%m-%d %H:%M:%S'),
    try_strptime(raw_ts, '%Y-%m-%d'),
    try_strptime(raw_ts, '%d/%m/%Y %H:%M:%S'),
    try_strptime(raw_ts, '%d/%m/%Y')
  ) AS parsed_ts
FROM t
"""


# ---------------------------------------------------------------------------
# windowed / temporal queries (streaming twins) + pagination + JSON keys
# ---------------------------------------------------------------------------

def _q_events_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mcp_synaptic_spark.streaming.windows import sliding_counts

    return sliding_counts(_t(spark, sf_dir, "events"))


_ORACLE_EVENTS_SLIDING = """
WITH s AS (
  SELECT make_timestamp((floor(epoch(ts) / 1800)::BIGINT) * 1800 * 1000000) AS w0 FROM events
),
u AS (
  SELECT w0 AS window_start FROM s
  UNION ALL
  SELECT w0 - INTERVAL '30 minutes' FROM s
)
SELECT window_start, window_start + INTERVAL '1 hour' AS window_end, count(*) AS n_events
FROM u GROUP BY 1
"""


def _q_events_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mcp_synaptic_spark.streaming.windows import session_windows

    return session_windows(_t(spark, sf_dir, "events"), gap="30 minutes")


_ORACLE_EVENTS_SESSIONS = """
WITH o AS (
  SELECT user_id, ts, value,
         lag(ts) OVER (PARTITION BY user_id ORDER BY ts) AS prev
  FROM events
),
m AS (
  SELECT *, CASE WHEN prev IS NULL OR ts - prev > INTERVAL '30 minutes' THEN 1 ELSE 0 END AS new_s
  FROM o
),
g AS (
  SELECT *, sum(new_s) OVER (PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS sid
  FROM m
)
SELECT user_id, min(ts) AS session_start,
       max(ts) + INTERVAL '30 minutes' AS session_end,
       count(*) AS n_events, round(sum(value), 2) AS total_value
FROM g GROUP BY user_id, sid
"""


def _q_orders_page(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L1+L4 — pagination with the has_more envelope (models/base.py:75-98)."""
    orders = _t(spark, sf_dir, "orders")
    total = orders.agg(F.count("*").alias("_total"))
    page = orders.orderBy(F.col("o_orderkey").asc()).offset(20).limit(10)
    return (
        page.crossJoin(F.broadcast(total))
        .withColumn("total_count", F.col("_total"))
        .withColumn("has_more", (F.lit(20) + F.lit(10)) < F.col("_total"))
        .drop("_total")
    )


_ORACLE_ORDERS_PAGE = """
SELECT o.*, t.total_count, (20 + 10) < t.total_count AS has_more
FROM (SELECT * FROM orders ORDER BY o_orderkey ASC LIMIT 10 OFFSET 20) o,
     (SELECT count(*) AS total_count FROM orders) t
"""


def _q_props_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A7 — distinct JSON payload keys across the corpus
    (reference rag/database/stats.py:47-54)."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.select(F.explode(F.json_object_keys(F.col("props"))).alias("json_key"))
        .groupBy("json_key")
        .agg(F.count("*").alias("n_rows"))
    )


_ORACLE_PROPS_KEYS = """
SELECT k AS json_key, count(*) AS n_rows
FROM (SELECT unnest(json_keys(props)) AS k FROM events)
GROUP BY k
"""


def _q_sanitize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X15 — sanitize_string over HTML-wrapped content (wrapper added
    deterministically so stripping is observable)."""
    from mcp_synaptic_spark.functions.text import sanitize_string

    docs = _t(spark, sf_dir, "documents")
    wrapped = F.concat(F.lit("<p class='doc'>"), F.col("text"), F.lit("</p>  "))
    return docs.select(
        "doc_id",
        sanitize_string(wrapped, max_length=200).alias("clean"),
        F.length(sanitize_string(wrapped, max_length=200)).alias("clean_len"),
    )


_ORACLE_SANITIZE = """
WITH w AS (
  SELECT doc_id, '<p class=''doc''>' || text || '</p>  ' AS s FROM documents
),
c AS (
  SELECT doc_id,
    substr(trim(regexp_replace(regexp_replace(s, '[\\x00-\\x08\\x0b\\x0c\\x0e-\\x1f\\x7f]', '', 'g'),
                               '<[^>]*>', '', 'g')), 1, 200) AS clean
  FROM w
)
SELECT doc_id, clean, length(clean) AS clean_len FROM c
"""


def _q_tpch_q6(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape: pure filter + agg — the pushdown showcase (all three
    predicates reach the parquet scan)."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.where(
            (F.col("l_shipdate") >= F.to_timestamp(F.lit("2024-01-01 00:00:00")))
            & (F.col("l_shipdate") < F.to_timestamp(F.lit("2024-07-01 00:00:00")))
            & (F.col("l_discount").between(0.05, 0.07))
            & (F.col("l_quantity") < 24)
        )
        .agg(F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 2).alias("revenue"))
    )


_ORACLE_TPCH_Q6 = """
SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '2024-01-01 00:00:00'
  AND l_shipdate < TIMESTAMP '2024-07-01 00:00:00'
  AND l_discount BETWEEN 0.05 AND 0.07
  AND l_quantity < 24
"""


def _q_orders_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-semi join (not in the reference; free from Spark — SURVEY §2.3):
    orders having ≥1 deeply-discounted lineitem, counted per priority.
    Physical: the filter pushes into the lineitem scan; the semi join carries
    only l_orderkey — no lineitem payload ever shuffles."""
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem").where(F.col("l_discount") >= 0.06)
    hit = orders.join(li, orders["o_orderkey"] == li["l_orderkey"], "left_semi")
    return hit.groupBy("o_orderpriority").agg(F.count("*").alias("n_orders"))


_ORACLE_ORDERS_SEMI = """
SELECT o_orderpriority, count(*) AS n_orders
FROM orders o
WHERE EXISTS (SELECT 1 FROM lineitem l
              WHERE l.l_orderkey = o.o_orderkey AND l.l_discount >= 0.06)
GROUP BY o_orderpriority
"""


def _q_customers_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-anti join: customers with no high-value order, per segment.
    The price filter pushes into the orders scan; the anti join carries only
    o_custkey."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders").where(F.col("o_totalprice") > 400000)
    none = cust.join(orders, cust["c_custkey"] == orders["o_custkey"], "left_anti")
    return none.groupBy("c_mktsegment").agg(
        F.count("*").alias("n_customers"), F.round(F.avg("c_acctbal"), 2).alias("avg_acctbal")
    )


_ORACLE_CUSTOMERS_ANTI = """
SELECT c_mktsegment, count(*) AS n_customers, round(avg(c_acctbal), 2) AS avg_acctbal
FROM customer c
WHERE NOT EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 400000)
GROUP BY c_mktsegment
"""


def _q_orders_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP (year, status) — hierarchical totals in one pass (no rollup
    exists in the reference, SURVEY §2.4; Expand + single hash-agg here)."""
    orders = _t(spark, sf_dir, "orders")
    return (
        orders.withColumn("order_year", F.year("o_orderdate"))
        .rollup("order_year", "o_orderstatus")
        .agg(F.count("*").alias("n_orders"), F.round(F.sum("o_totalprice"), 2).alias("total_price"))
    )


_ORACLE_ORDERS_ROLLUP = """
SELECT year(o_orderdate) AS order_year, o_orderstatus,
       count(*) AS n_orders, round(sum(o_totalprice), 2) AS total_price
FROM orders
GROUP BY ROLLUP (year(o_orderdate), o_orderstatus)
"""


def _q_top_orders_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W1-style ranking generalized: top-3 orders by value per customer."""
    orders = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
    return (
        orders.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 3)
        .select("o_custkey", "o_orderkey", F.round("o_totalprice", 2).alias("o_totalprice"), "rank")
    )


_ORACLE_TOP_ORDERS = """
SELECT o_custkey, o_orderkey, round(o_totalprice, 2) AS o_totalprice, CAST(rank AS INT) AS rank
FROM (
  SELECT o_custkey, o_orderkey, o_totalprice,
         row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey ASC) AS rank
  FROM orders
) WHERE rank <= 3
"""


# ---------------------------------------------------------------------------
# RAG document CRUD (Q9–Q12, S7–S9, P1, J2) — post-state checked
# ---------------------------------------------------------------------------

_WORD_COUNT_SQL = (
    "CASE WHEN trim({c}) = '' THEN 0 "
    "ELSE length(regexp_split_to_array(trim({c}), '\\s+')) END"
)


def _q_doc_add(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q9 — upsert two docs (one replaces id 3, one brand-new id 999999);
    show the affected slice plus an untouched control row (id 4)."""
    from mcp_synaptic_spark.operators import documents as DOC

    docs = _t(spark, sf_dir, "documents")
    # SQL VALUES, not createDataFrame (r16): a 2-row createDataFrame plans
    # as applySchemaToPythonRDD — a pickled Python-RDD evaluated through
    # core-count Python worker tasks on every action (driver r15 board:
    # 3.1 s / core-ratio 0.20 for a query whose window reads THREE rows).
    # VALUES is a JVM LocalRelation: same rows, zero Python tasks.
    new_rows = spark.sql(
        "SELECT * FROM VALUES "
        "(CAST(3 AS BIGINT), 'replacement text for document three', "
        "'en', 'synthetic', CAST(35 AS BIGINT)), "
        "(CAST(999999 AS BIGINT), 'a brand new synthetic document', "
        "'en', 'synthetic', CAST(30 AS BIGINT)) "
        "AS t(doc_id, text, lang, source, n_chars)"
    )
    out = DOC.document_add(docs, new_rows)
    return out.where(F.col("doc_id").isin([3, 4, 999999])).select(
        "doc_id", "text", "lang", "source", "n_chars"
    )


_ORACLE_DOC_ADD = """
WITH new_rows(doc_id, text, lang, source, n_chars) AS (
  VALUES (3, 'replacement text for document three', 'en', 'synthetic', 35),
         (999999, 'a brand new synthetic document', 'en', 'synthetic', 30)
),
merged AS (
  SELECT doc_id, text, lang, source, n_chars, 0 AS prio FROM documents
  UNION ALL SELECT doc_id, text, lang, source, n_chars, 1 FROM new_rows
),
d AS (
  SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY prio DESC) AS rn FROM merged
)
SELECT doc_id, text, lang, source, n_chars FROM d
WHERE rn = 1 AND doc_id IN (3, 4, 999999)
"""


def _q_doc_get(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q10 — point read + P1 derived-metadata split + J2 embedding join."""
    from mcp_synaptic_spark.operators import documents as DOC

    out = DOC.document_get(
        _t(spark, sf_dir, "documents"), _t(spark, sf_dir, "embeddings"), 7
    )
    return out.select(
        "doc_id", "text", "lang", "content_length", "word_count",
        "content_hash", "embedding_dimension",
    )


_ORACLE_DOC_GET = f"""
SELECT d.doc_id, d.text, d.lang,
       length(d.text) AS content_length,
       {_WORD_COUNT_SQL.format(c="d.text")} AS word_count,
       md5(d.text) AS content_hash,
       (SELECT len(embedding) FROM embeddings e WHERE e.vec_id = 7) AS embedding_dimension
FROM documents d WHERE d.doc_id = 7
"""


def _q_doc_update(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q11 — replace content of doc 5 (delete + re-add semantics); derived
    columns recompute; doc 6 rides along untouched as the control."""
    from mcp_synaptic_spark.operators import documents as DOC

    out = DOC.document_update(
        _t(spark, sf_dir, "documents"), 5, F.lit("updated content for document five")
    )
    return out.where(F.col("doc_id").isin([5, 6])).select(
        "doc_id", "text", "content_hash", "content_length", "word_count"
    )


_ORACLE_DOC_UPDATE = f"""
WITH u AS (
  SELECT doc_id,
         CASE WHEN doc_id = 5 THEN 'updated content for document five' ELSE text END AS text
  FROM documents WHERE doc_id IN (5, 6)
)
SELECT doc_id, text, md5(text) AS content_hash,
       length(text) AS content_length,
       {_WORD_COUNT_SQL.format(c="text")} AS word_count
FROM u
"""


def _q_doc_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q12 — delete doc 3 from both tables; verify post-state counts."""
    from mcp_synaptic_spark.operators import documents as DOC

    docs_after, emb_after = DOC.document_delete(
        _t(spark, sf_dir, "documents"), _t(spark, sf_dir, "embeddings"), 3
    )
    d = docs_after.agg(
        F.count("*").alias("n_docs_after"),
        F.sum((F.col("doc_id") == 3).cast("long")).alias("doc_still_present"),
    )
    e = emb_after.agg(F.count("*").alias("n_emb_after"))
    return d.crossJoin(e)


_ORACLE_DOC_DELETE = """
SELECT (SELECT count(*) FROM documents WHERE doc_id != 3) AS n_docs_after,
       0 AS doc_still_present,
       (SELECT count(*) FROM embeddings WHERE vec_id != 3) AS n_emb_after
"""


def _q_doc_change_feed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S12 — document_added change feed (reference README.md:196-205): diff
    an older snapshot (docs with doc_id % 7 != 0) against the current table
    via streaming/expiry.document_added_events — an id-projected anti join;
    one event row per newly-added doc."""
    from mcp_synaptic_spark.streaming.expiry import document_added_events

    docs = _t(spark, sf_dir, "documents")
    prev = docs.where(F.col("doc_id") % 7 != 0)
    return document_added_events(prev, docs, now_col=now_col())


_ORACLE_DOC_CHANGE_FEED = f"""
SELECT 'document_added' AS event_type,
       CAST(doc_id AS VARCHAR) AS key,
       {NOW_SQL} AS ts
FROM documents WHERE doc_id % 7 = 0
"""


# ---------------------------------------------------------------------------
# ANN tiers + embedding provider + multimodal plumbing — rows-only checks
# (approximate / non-SQL-expressible; exact twins live in batch_topk etc.)
# ---------------------------------------------------------------------------


_ANN_DIM, _ANN_PLANES, _ANN_SEED, _ANN_K = 64, 8, 42, 5


def _q_ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Random-hyperplane LSH top-k (similarity.py tier 1). Approximate vs
    exact kNN, but DETERMINISTIC given the seed — the oracle recomputes the
    same seeded buckets (+ Hamming-1 multiprobe) as SQL literals, so this is
    a full hash-verified row, not rows-only (VERDICT r2 #4). Recall vs the
    exact batch_topk twin is additionally asserted in tests."""
    from mcp_synaptic_spark.operators.similarity import lsh_topk_join

    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") % 500 == 0).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    return lsh_topk_join(
        queries, emb, dim=_ANN_DIM, k=_ANN_K, n_planes=_ANN_PLANES, seed=_ANN_SEED, id_col="vec_id"
    )


def _mk_oracle_ann_lsh() -> str:
    """SQL twin of lsh_topk_join: same seeded hyperplanes as literals, same
    bucket = Σ 2^i·[v·pᵢ ≥ 0], same Hamming-1 multiprobe, exact cosine
    re-rank within the candidate union (dedup_embedding_lsh oracle craft)."""
    from mcp_synaptic_spark.operators.similarity import _hyperplanes

    planes = _hyperplanes(_ANN_DIM, _ANN_PLANES, _ANN_SEED)
    terms = []
    for i, p in enumerate(planes):
        lit = "[" + ", ".join(repr(float(x)) for x in p) + "]"
        terms.append(f"(CASE WHEN list_dot_product(v, {lit}) >= 0 THEN {2**i} ELSE 0 END)")
    bucket = "(" + " + ".join(terms) + ")"
    probes = ", ".join(["qbucket"] + [f"xor(qbucket, {2**i})" for i in range(_ANN_PLANES)])
    cos = _cos("c.v", "p.qvec")
    return f"""
WITH base AS (
  SELECT vec_id, embedding::DOUBLE[] AS v, {bucket} AS bucket
  FROM embeddings
),
q AS (SELECT vec_id AS qid, v AS qvec, bucket AS qbucket FROM base WHERE vec_id % 500 = 0),
probes AS (SELECT qid, qvec, unnest([{probes}]) AS bucket FROM q),
cand AS (
  SELECT DISTINCT p.qid, c.vec_id,
         round(greatest(0.0, least(1.0, {cos})), 6) AS score
  FROM probes p JOIN base c USING (bucket)
),
ranked AS (
  SELECT qid, vec_id, score,
         CAST(row_number() OVER (PARTITION BY qid ORDER BY round(score, 9) DESC, vec_id ASC) AS INT) AS rank
  FROM cand
)
SELECT * FROM ranked WHERE rank <= {_ANN_K}
"""


_ORACLE_ANN_LSH = _mk_oracle_ann_lsh()


_IVF_CACHE_ROOT = os.path.join(_CHECKOUT, ".ivf_cache")


def _ivf_index(spark: SparkSession, sf_dir: str):
    """Build-once IVF index per sf_dir, persisted partitioned by `cell`
    (similarity.py:ivf_index_write). Idempotent across processes: a prior
    run's index on disk is reused, so the KMeans fit happens once per
    dataset, never per query — index construction is ETL, not a read-path
    cost (VERDICT r1 #6).

    The cache key is the sf_dir path, but the ORACLE's centroid literals are
    keyed by events-table row count (_SF_EVENT_COUNTS) — so a dataset mounted
    at a non-committed path would rebuild a fresh index while the oracle still
    compares against the committed fixture. _check_centroids_committed closes
    that gap: when the dataset's events count matches a committed fixture, the
    loaded centroids must BE that fixture (raise loudly, never silently
    diverge); datasets with no committed fixture (ad-hoc slices) pass through
    unchecked — their oracle branch fails loudly on its own (see
    _mk_oracle_ann_ivf's empty-cent guard)."""
    from mcp_synaptic_spark.operators.similarity import ivf_index_load, ivf_index_write

    path = os.path.join(_IVF_CACHE_ROOT, sf_dir.strip("/").replace("/", "_"))
    # cells_sidecar: commit the index's own (vec_id → cell) assignment so the
    # oracle reads it instead of re-deriving argmin (fixture-scale only)
    ivf_index_write(_t(spark, sf_dir, "embeddings"), path, n_cells=16, id_col="vec_id", cells_sidecar=True)
    indexed, centroids = ivf_index_load(spark, path)
    _check_centroids_committed(sf_dir, centroids)
    return indexed, centroids


def _check_centroids_committed(sf_dir: str, centroids, suffix: str = "") -> None:
    """Raise if this dataset has a committed IVF fixture but the loaded
    centroids differ from it (index rebuilt at a different mount path, or a
    Spark/KMeans change altered the fit). JSON round-trips float64 exactly,
    so the comparison is exact equality."""
    import pyarrow as _pa
    import pyarrow.parquet as _pq

    events_path = os.path.join(sf_dir, "events.parquet")
    if os.path.isdir(events_path):
        return  # directory-layout events table: the committed fixtures are all single files
    try:
        n_events = _pq.ParquetFile(events_path).metadata.num_rows
    except FileNotFoundError:
        return  # no events table (ad-hoc embedding slice): nothing to check
    except _pa.ArrowInvalid:
        return  # not parquet → not a committed-fixture dataset
    # any OTHER failure (permissions, pyarrow breakage) propagates — a
    # silently-skipped guard is the divergence gap this function exists to close
    sf = next((s for s, n in _SF_EVENT_COUNTS.items() if n == n_events), None)
    if sf is None:
        return  # no committed fixture for this dataset
    fixture = os.path.join(_IVF_CACHE_ROOT, f"root_testdata_{sf}{suffix}")
    committed = IVF_INDEX.read(fixture)
    if committed is None:
        return
    loaded = [[float(x) for x in c] for c in centroids]
    if loaded != [[float(x) for x in c] for c in committed["centroids"]]:
        raise RuntimeError(
            f"IVF index loaded for {sf_dir} does not match the committed {sf} "
            f"fixture its oracle will compare against ({fixture}). The index "
            "was likely rebuilt at a non-committed mount path; delete the "
            "stale cache dir or re-commit the fixtures."
        )


def _q_ann_quantized_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQ8 storage tier + ADC search (similarity.py:quantize_embeddings /
    ann_quantized_topk) — new r8: per-vector 8-bit scalar quantization (the
    FAISS/Milvus SQ8 layout, 4× smaller scans than float32), searched with
    an exact float query against dequantized codes. Fully deterministic
    (floor-based codes, fixed fold order), so the oracle reproduces
    quantize→dequantize→cosine→top-k bit-for-bit in SQL — a hash-verified
    row, not rows-only."""
    from mcp_synaptic_spark.operators.similarity import ann_quantized_topk, quantize_embeddings

    emb = _t(spark, sf_dir, "embeddings")
    qrow = emb.where(F.col("vec_id") == 0).select(F.col("embedding").alias("qv"))
    return ann_quantized_topk(quantize_embeddings(emb), qrow, k=10)


_ORACLE_ANN_QUANTIZED = f"""
WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0),
p AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
st AS (
  SELECT vec_id, v, list_aggregate(v, 'min') AS vmin,
         (list_aggregate(v, 'max') - list_aggregate(v, 'min')) / 255.0 AS scale
  FROM p
),
dq AS (
  SELECT vec_id,
    CASE WHEN scale = 0 THEN list_transform(v, x -> vmin + 0.0 * scale)
         ELSE list_transform(v, x -> vmin + floor((x - vmin) / scale + 0.5) * scale)
    END AS dv
  FROM st
),
s AS (SELECT d.vec_id, round({_cos('d.dv', 'q.qv')}, 6) AS qcos FROM dq d, q)
SELECT vec_id, qcos,
       CAST(row_number() OVER (ORDER BY qcos DESC, vec_id ASC) AS INT) AS rank
FROM s ORDER BY qcos DESC, vec_id ASC LIMIT 10
"""


def _q_ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF coarse-quantizer top-k (similarity.py tier 3): probe the persisted
    cell-partitioned index — nprobe-cell partition-pruned scan + exact
    re-rank. No KMeans fit in the query path. The per-SF indexes are
    COMMITTED fixtures (seeded, deterministic), so the query and the oracle
    read the same centroids; the oracle recomputes cell assignment +
    nprobe probing + re-rank from those centroid literals (VERDICT r2 #4)."""
    from mcp_synaptic_spark.operators.similarity import ivf_topk

    emb = _t(spark, sf_dir, "embeddings")
    indexed, centroids = _ivf_index(spark, sf_dir)
    queries = emb.where(F.col("vec_id") % 500 == 0).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    return ivf_topk(queries, indexed, centroids, k=5, nprobe=4, id_col="vec_id")


#: events-table row count → testdata scale factor, used by the IVF oracle to
#: pick the right committed centroid set from a single static SQL string
#: (embeddings counts collide between sf0.001 and sf0.01; events' don't).
_SF_EVENT_COUNTS = {"sf0.001": 1000, "sf0.01": 10000, "sf0.1": 100000}


def _ivf_fixture_ctes(suffix: str = "") -> tuple[str, str] | None:
    """The shared (cent, cellmap) CTE bodies every IVF-fixture oracle opens
    with: each SF's persisted centroids AND its persisted (vec_id → cell)
    assignment (`_cells.json`, written by ivf_index_write from the committed
    index parquet itself) as literals, discriminated by events-count, with
    fail-loud guards — a dataset whose events count matches NO committed
    fixture raises inside DuckDB instead of silently producing a 0-row
    oracle (which would read as a false FAIL against the Spark side).
    Returns None (→ rows-only fallback) if no committed index exists.

    Reading the assignment from the fixture (instead of re-deriving argmin
    list_distance, as rounds 2–6 did) makes the parity checks
    assignment-independent: MLlib's transform uses the norm-trick
    fastSquaredDistance whose fp rounding can differ from an exact argmin on
    a near-equidistant vector, and the oracles grade PROBE/RERANK/DEDUP
    semantics, not KMeans' internal rounding. The sidecar is read back from
    the committed index parquet, so it is the index's own truth."""
    import json as _json

    branches = []
    cell_branches = []
    for sf, n_events in _SF_EVENT_COUNTS.items():
        fixture_dir = os.path.join(_IVF_CACHE_ROOT, f"root_testdata_{sf}{suffix}")
        index = IVF_INDEX.read(fixture_dir)
        cells_sidecar = os.path.join(fixture_dir, "_cells.json")
        if index is None or not os.path.exists(cells_sidecar):
            continue
        cents = index["centroids"]
        rows = ", ".join(
            "(" + str(i) + ", [" + ", ".join(repr(float(x)) for x in c) + "])"
            for i, c in enumerate(cents)
        )
        branches.append(
            f"SELECT cell, c FROM (VALUES {rows}) t(cell, c)\n"
            f"  WHERE (SELECT count(*) FROM events) = {n_events}"
        )
        with open(cells_sidecar) as f:
            pairs = _json.load(f)
        pair_rows = ", ".join(f"({int(i)}, {int(c)})" for i, c in pairs)
        cell_branches.append(
            f"SELECT vec_id, cell FROM (VALUES {pair_rows}) t(vec_id, cell)\n"
            f"  WHERE (SELECT count(*) FROM events) = {n_events}"
        )
    if not branches:
        return None
    cent_cte = "\n  UNION ALL\n".join(branches)
    cellmap_cte = "\n  UNION ALL\n".join(cell_branches)
    cent_sql = f"""cent_raw AS (
  {cent_cte}
),
cent AS (
  SELECT * FROM cent_raw
  UNION ALL
  -- fail-loud guard: a dataset whose events count matches no committed
  -- fixture must raise here, not silently produce a 0-row oracle result
  SELECT CASE WHEN error('IVF oracle: events count matches no committed centroid fixture') IS NULL THEN 0 END,
         NULL
  WHERE NOT EXISTS (SELECT 1 FROM cent_raw)
)"""
    cellmap_sql = f"""cellmap_raw AS (
  {cellmap_cte}
),
cellmap AS (
  SELECT * FROM cellmap_raw
  UNION ALL
  -- symmetric fail-loud guard: centroids without a matching assignment
  -- sidecar must raise, not silently 0-row the join below
  SELECT CASE WHEN error('IVF oracle: events count matches no committed cell-assignment fixture') IS NULL THEN 0 END,
         0
  WHERE NOT EXISTS (SELECT 1 FROM cellmap_raw)
)"""
    return cent_sql, cellmap_sql


def _mk_oracle_ann_ivf(suffix: str = "", qid_mod: int = 500) -> str | None:
    """SQL twin of ivf_topk over the committed per-SF IVF fixtures
    (_ivf_fixture_ctes): recomputes only the nprobe=4 nearest-centroid probe
    (by 1−cosine, cell asc ties) and the exact re-rank. With
    suffix="_append" it reads the APPENDED fixture's sidecars instead —
    the centroids are the subset fit and the cell assignment is the
    merged/append-assigned one the index itself committed, so the oracle
    grades probe/re-rank semantics over exactly the state the append
    produced."""
    ctes = _ivf_fixture_ctes(suffix)
    if ctes is None:
        return None
    cent_sql, cellmap_sql = ctes
    cos_probe = _cos("q.qvec", "c.c")
    cos_score = _cos("a.v", "p.qvec")
    return f"""
WITH {cent_sql},
{cellmap_sql},
base AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
assigned AS (
  SELECT b.vec_id, b.v, m.cell FROM base b JOIN cellmap m USING (vec_id)
),
q AS (SELECT vec_id AS qid, v AS qvec FROM base WHERE vec_id % {qid_mod} = 0),
probes AS (
  SELECT qid, qvec, cell FROM (
    SELECT q.qid, q.qvec, c.cell,
           row_number() OVER (PARTITION BY q.qid ORDER BY (1.0 - {cos_probe}) ASC, c.cell ASC) AS rn
    FROM q CROSS JOIN cent c
  ) WHERE rn <= 4
),
scored AS (
  SELECT p.qid, a.vec_id,
         round(greatest(0.0, least(1.0, {cos_score})), 6) AS score
  FROM assigned a JOIN probes p USING (cell)
),
ranked AS (
  SELECT qid, vec_id, score,
         CAST(row_number() OVER (PARTITION BY qid ORDER BY round(score, 9) DESC, vec_id ASC) AS INT) AS rank
  FROM scored
)
SELECT * FROM ranked WHERE rank <= 5
"""


_ORACLE_ANN_IVF = _mk_oracle_ann_ivf()


def _ivf_append_index(spark: SparkSession, sf_dir: str):
    """Build-once APPENDED IVF index per sf_dir: the base index is fitted on
    the 80% of embeddings with vec_id % 5 != 0, then the held-out 20% is
    appended under the stored centroids (similarity.py:ivf_index_append) —
    identical vectors merge into their existing rep rows, fresh vectors get
    exact-argmin cells, and only the affected cell partitions rewrite.
    Idempotent across processes at BOTH stages: the base build reuses the
    committed fixture, and the append's batch fingerprint makes re-appends
    a metadata no-op, so the committed fixture bytes never churn."""
    from mcp_synaptic_spark.operators.similarity import (
        ivf_index_append,
        ivf_index_load,
        ivf_index_write,
    )

    path = os.path.join(_IVF_CACHE_ROOT, sf_dir.strip("/").replace("/", "_") + "_append")
    emb = _t(spark, sf_dir, "embeddings")
    ivf_index_write(
        emb.where(F.col("vec_id") % 5 != 0), path, n_cells=16, id_col="vec_id",
        cells_sidecar=True,
    )
    ivf_index_append(emb.where(F.col("vec_id") % 5 == 0), path, id_col="vec_id")
    indexed, centroids = ivf_index_load(spark, path)
    _check_centroids_committed(sf_dir, centroids, suffix="_append")
    return indexed, centroids


def _q_ann_ivf_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental IVF index growth (VERDICT r13 next-round #3): append a
    held-out slice into the persisted index under the STORED centroids —
    no refit, no full rewrite — then probe it. Every probed qid is an
    APPENDED vector (vec_id % 100 = 0 ⊂ vec_id % 5 = 0), so the graded
    rows prove appended vectors are findable and rank identically to a
    native build's probe semantics; the oracle reads the appended index's
    own committed (centroids, cell-assignment) sidecars."""
    from mcp_synaptic_spark.operators.similarity import ivf_topk

    emb = _t(spark, sf_dir, "embeddings")
    indexed, centroids = _ivf_append_index(spark, sf_dir)
    queries = emb.where(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    return ivf_topk(queries, indexed, centroids, k=5, nprobe=4, id_col="vec_id")


_ORACLE_ANN_IVF_APPEND = _mk_oracle_ann_ivf("_append", qid_mod=100)


def _q_ann_ivf_sq8_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-SQ8 (similarity.py:ivf_quantized_topk) — new r8: the composed
    billion-scale layout (FAISS IVF+SQ8): the persisted coarse quantizer
    prunes to nprobe cells using the EXACT query vector, the in-cell
    re-rank reads 4×-smaller SQ8 codes with asymmetric distance. Fully
    deterministic, so the oracle recomputes probe + quantize + dequantize +
    re-rank from the committed fixtures."""
    from mcp_synaptic_spark.operators.similarity import ivf_quantized_topk

    emb = _t(spark, sf_dir, "embeddings")
    indexed, centroids = _ivf_index(spark, sf_dir)
    queries = emb.where(F.col("vec_id") % 500 == 0).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    return ivf_quantized_topk(queries, indexed, centroids, k=5, nprobe=4, id_col="vec_id")


def _mk_oracle_ann_ivf_sq8(qid_mod: int = 500) -> str | None:
    """SQL twin of ivf_quantized_topk: the ann_ivf probe verbatim, but the
    re-rank scores the DEQUANTIZED corpus vector (same floor-code recipe as
    the ann_quantized_topk oracle)."""
    ctes = _ivf_fixture_ctes()
    if ctes is None:
        return None
    cent_sql, cellmap_sql = ctes
    cos_probe = _cos("q.qvec", "c.c")
    cos_score = _cos("a.dv", "p.qvec")
    return f"""
WITH {cent_sql},
{cellmap_sql},
base AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
st AS (
  SELECT vec_id, v, list_aggregate(v, 'min') AS vmin,
         (list_aggregate(v, 'max') - list_aggregate(v, 'min')) / 255.0 AS scale
  FROM base
),
dq AS (
  SELECT vec_id,
    CASE WHEN scale = 0 THEN list_transform(v, x -> vmin + 0.0 * scale)
         ELSE list_transform(v, x -> vmin + floor((x - vmin) / scale + 0.5) * scale)
    END AS dv
  FROM st
),
assigned AS (
  SELECT d.vec_id, d.dv, m.cell FROM dq d JOIN cellmap m USING (vec_id)
),
q AS (SELECT vec_id AS qid, v AS qvec FROM base WHERE vec_id % {qid_mod} = 0),
probes AS (
  SELECT qid, qvec, cell FROM (
    SELECT q.qid, q.qvec, c.cell,
           row_number() OVER (PARTITION BY q.qid ORDER BY (1.0 - {cos_probe}) ASC, c.cell ASC) AS rn
    FROM q CROSS JOIN cent c
  ) WHERE rn <= 4
),
scored AS (
  SELECT p.qid, a.vec_id,
         round(greatest(0.0, least(1.0, {cos_score})), 6) AS score
  FROM assigned a JOIN probes p USING (cell)
),
ranked AS (
  SELECT qid, vec_id, score,
         CAST(row_number() OVER (PARTITION BY qid ORDER BY round(score, 9) DESC, vec_id ASC) AS INT) AS rank
  FROM scored
)
SELECT * FROM ranked WHERE rank <= 5
"""


_ORACLE_ANN_IVF_SQ8 = _mk_oracle_ann_ivf_sq8()

#: SemDeDup pair threshold — tuned to the synthetic embeddings the same way
#: the dedup_embedding queries sit at 0.45: the corpus' max pairwise cosine
#: is ~0.51, so 0.4 yields a real removal set (26 of 500 at sf0.01) while a
#: production text corpus would run the paper's ~0.95.
_SEMANTIC_DEDUP_THRESHOLD = 0.4


def _q_dedup_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (similarity.py:semantic_dedup, Abbas et al. 2023
    arXiv:2303.09540): within-IVF-cell cosine near-dup removal, keeping each
    pair's lower-(centroid_sim, id) member. Probes the same persisted per-SF
    IVF index as ann_ivf_topk — no KMeans fit in the query path; the oracle
    reads the identical committed cell assignment + centroids."""
    from mcp_synaptic_spark.operators.similarity import semantic_dedup

    indexed, centroids = _ivf_index(spark, sf_dir)
    return semantic_dedup(indexed, centroids, threshold=_SEMANTIC_DEDUP_THRESHOLD)


def _mk_oracle_dedup_semantic() -> str | None:
    """SQL twin of semantic_dedup over the committed IVF fixtures: same
    cell assignment (cellmap sidecar), same rounded-6dp cosines, same
    set-based keep rule — each within-cell pair at cosine ≥ threshold marks
    its (centroid_sim, id)-greater member removed."""
    ctes = _ivf_fixture_ctes()
    if ctes is None:
        return None
    cent_sql, cellmap_sql = ctes
    cos_cent = _cos("a.v", "c.c")
    cos_pair = _cos("x.v", "y.v")
    return f"""
WITH {cent_sql},
{cellmap_sql},
base AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
withc AS (
  SELECT a.vec_id, m.cell, a.v,
         round(greatest(-1.0, least(1.0, {cos_cent})), 6) AS centroid_sim
  FROM base a JOIN cellmap m USING (vec_id) JOIN cent c ON c.cell = m.cell
),
pairs AS (
  SELECT x.vec_id AS ia, y.vec_id AS ib, x.centroid_sim AS ca, y.centroid_sim AS cb
  FROM withc x JOIN withc y ON x.cell = y.cell AND x.vec_id < y.vec_id
  WHERE round(greatest(-1.0, least(1.0, {cos_pair})), 6) >= {_SEMANTIC_DEDUP_THRESHOLD}
),
removed AS (
  SELECT DISTINCT CASE WHEN cb >= ca THEN ib ELSE ia END AS vec_id FROM pairs
)
SELECT w.vec_id, CAST(w.cell AS INT) AS cell, w.centroid_sim,
       (r.vec_id IS NOT NULL) AS removed
FROM withc w LEFT JOIN removed r USING (vec_id)
"""


_ORACLE_DEDUP_SEMANTIC = _mk_oracle_dedup_semantic()


def _q_embed_texts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q20 — batch embedding via the deterministic hash provider
    (mapInPandas, Arrow-batched); unit-norm property checked per row."""
    from mcp_synaptic_spark.sources.embedders import hash_embedder

    docs = _t(spark, sf_dir, "documents")
    out = hash_embedder(docs, dim=64)
    return out.select(
        "doc_id",
        F.size("embedding").alias("dim"),
        F.round(F.aggregate(F.col("embedding"), F.lit(0.0), lambda a, x: a + x * x), 3).alias("sq_norm"),
    )


def _q_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal plumbing: binary payload column + typed metadata, feature
    extraction via mapInPandas (deterministic fake decoder — the real decode
    seam is operators/multimodal.py:decode_media)."""
    from mcp_synaptic_spark.operators.multimodal import extract_features

    docs = _t(spark, sf_dir, "documents")
    media = docs.select(
        F.col("doc_id").alias("media_id"),
        F.element_at(
            F.array(F.lit("image"), F.lit("audio"), F.lit("video")),
            (F.col("doc_id") % 3 + 1).cast("int"),
        ).alias("media_type"),
        F.encode(F.col("text"), "UTF-8").alias("payload"),
        F.to_json(F.struct("lang", "source")).alias("metadata"),
    )
    feats = extract_features(media, use_fake=True)
    return feats.select("media_id", "media_type", "n_bytes", F.size("features").alias("feat_dim"))


# SQL twin of _q_multimodal_features: the PLUMBING around the Python seam is
# deterministic SQL — media_type from doc_id % 3, n_bytes = UTF-8 byte length
# of the payload, feat_dim = the fake extractor's constant FEATURE_DIM. The
# mapInPandas boundary (Arrow batch shape, schema) is what the query
# exercises; the oracle pins its observable output.
_ORACLE_MULTIMODAL_FEATURES = """
SELECT doc_id AS media_id,
       (['image', 'audio', 'video'])[(doc_id % 3) + 1] AS media_type,
       CAST(octet_length(encode(text)) AS INT) AS n_bytes,
       CAST(16 AS INT) AS feat_dim
FROM documents
"""


def _q_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video frame-sampling plumbing: deterministic frame-index explode."""
    from mcp_synaptic_spark.operators.multimodal import frame_sample_plan

    docs = _t(spark, sf_dir, "documents")
    media = docs.select(
        F.col("doc_id").alias("media_id"),
        F.element_at(
            F.array(F.lit("image"), F.lit("audio"), F.lit("video")),
            (F.col("doc_id") % 3 + 1).cast("int"),
        ).alias("media_type"),
        F.encode(F.col("text"), "UTF-8").alias("payload"),
    )
    return frame_sample_plan(media, every_n=10)


_ORACLE_FRAME_SAMPLE = """
WITH m AS (
  SELECT doc_id AS media_id, octet_length(encode(text)) % 100 + 1 AS n_frames
  FROM documents WHERE doc_id % 3 = 2
)
SELECT media_id, CAST(unnest(range(0, n_frames, 10)) AS INT) AS frame_idx FROM m
"""

_ORACLE_EMBED_TEXTS = """
SELECT doc_id,
       CASE WHEN trim(text) = '' THEN NULL ELSE CAST(64 AS INT) END AS dim,
       CASE WHEN trim(text) = '' THEN NULL ELSE 1.0 END AS sq_norm
FROM documents
"""


# ---------------------------------------------------------------------------
# text analysis (beyond-reference: training-data pipeline operators)
# ---------------------------------------------------------------------------

def _q_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return TA.token_stats(_t(spark, sf_dir, "documents"))


_BPE_PAT_SQL = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"

_ORACLE_TOKEN_STATS = f"""
SELECT doc_id,
  CASE WHEN trim(text) = '' THEN 0 ELSE len(regexp_split_to_array(trim(text), '\\s+')) END AS n_words,
  len(regexp_extract_all(text, '{_BPE_PAT_SQL}')) AS n_bpe_tokens,
  length(text) AS n_chars
FROM documents
"""


def _q_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    return TA.quality_score(_t(spark, sf_dir, "documents"))


_STOP_LIST_SQL = "[" + ", ".join(f"'{w}'" for w in TA.STOPWORDS) + "]"

_ORACLE_QUALITY = f"""
WITH base AS (
  SELECT doc_id, text,
    length(text) AS n_chars,
    CASE WHEN trim(text) = '' THEN 0 ELSE len(regexp_split_to_array(trim(text), '\\s+')) END AS n_words,
    len(regexp_extract_all(text, '[^\\w\\s]')) AS n_punct,
    len(list_filter(regexp_split_to_array(trim(lower(text)), '\\s+'),
                    t -> list_contains({_STOP_LIST_SQL}, t))) AS n_stop
  FROM documents
), feat AS (
  SELECT doc_id, n_words,
    CASE WHEN n_words > 0 THEN n_chars::DOUBLE / n_words ELSE 0.0 END AS mean_word_len,
    CASE WHEN n_chars > 0 THEN n_punct::DOUBLE / n_chars ELSE 0.0 END AS punct_ratio,
    CASE WHEN n_words > 0 THEN n_stop::DOUBLE / n_words ELSE 0.0 END AS stop_ratio,
    CASE WHEN n_chars BETWEEN 50 AND 5000 THEN 1.0 ELSE 0.0 END AS length_ok,
    n_chars
  FROM base
)
SELECT doc_id, n_words,
  round(mean_word_len, 6) AS mean_word_len,
  round(punct_ratio, 6) AS punct_ratio,
  round(stop_ratio, 6) AS stopword_ratio,
  round(0.3 * length_ok
      + 0.2 * (CASE WHEN mean_word_len BETWEEN 3.0 AND 12.0 THEN 1.0 ELSE 0.0 END)
      + 0.2 * (CASE WHEN punct_ratio <= 0.2 THEN 1.0 ELSE 0.0 END)
      + 0.3 * least(1.0, stop_ratio * 5), 6) AS quality_score
FROM feat
"""


def _q_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-family repetition filters (text_analysis.py:repetition_stats,
    arXiv:2112.11446 §A1.1): dup-word fraction, top word-bigram + its char
    coverage, dup-5-gram fraction — one narrow zero-shuffle projection."""
    return TA.repetition_stats(_t(spark, sf_dir, "documents"))


_ORACLE_REPETITION = r"""
WITH base AS (
  SELECT doc_id, length(text) AS n_chars,
    CASE WHEN trim(text) = '' THEN [] ELSE regexp_split_to_array(trim(text), '\s+') END AS w
  FROM documents
), stats AS (
  SELECT doc_id, n_chars, len(w) AS n_words,
    len(list_distinct(w)) AS ndw,
    CASE WHEN len(w) >= 2 THEN list_transform(range(len(w) - 1), i -> w[i+1] || ' ' || w[i+2]) ELSE [] END AS g2,
    CASE WHEN len(w) >= 5 THEN list_transform(range(len(w) - 4), i -> array_to_string(w[i+1:i+5], ' ')) ELSE [] END AS g5
  FROM base
), bg AS (
  SELECT doc_id, unnest(g2) AS g FROM stats
), bgc AS (
  SELECT doc_id, g, CAST(count(*) AS INT) AS c FROM bg GROUP BY doc_id, g
), top AS (
  SELECT doc_id, g, c FROM (
    SELECT doc_id, g, c, row_number() OVER (PARTITION BY doc_id ORDER BY c DESC, g DESC) AS rn FROM bgc
  ) WHERE rn = 1
)
SELECT s.doc_id, s.n_words,
  round(CASE WHEN s.n_words > 0 THEN 1.0 - s.ndw::DOUBLE / s.n_words ELSE 0.0 END, 6) AS dup_word_frac,
  t.g AS top_bigram,
  coalesce(t.c, 0) AS top_bigram_count,
  round(CASE WHEN s.n_chars > 0 AND coalesce(t.c, 0) > 0
        THEN t.c * length(t.g)::DOUBLE / s.n_chars ELSE 0.0 END, 6) AS top_bigram_char_frac,
  round(CASE WHEN len(g5) > 0 THEN 1.0 - len(list_distinct(g5))::DOUBLE / len(g5) ELSE 0.0 END, 6) AS dup_5gram_frac
FROM stats s LEFT JOIN top t USING (doc_id)
"""


def _q_dedup_substring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Windowed exact-substring duplication (dedup.py:substring_dup_stats,
    Lee et al. 2022 arXiv:2107.06499 §4.1 at 10-word-window granularity):
    per-doc count/fraction of windows shared verbatim with another doc. The
    Spark side blocks on xxhash64(window); the oracle groups by window text
    (hash-collision-free ground truth)."""
    return D.substring_dup_stats(_t(spark, sf_dir, "documents"), n=10)


_ORACLE_DEDUP_SUBSTRING = r"""
WITH base AS (
  SELECT doc_id,
    CASE WHEN trim(text) = '' THEN [] ELSE regexp_split_to_array(trim(text), '\s+') END AS w
  FROM documents
), wins AS (
  SELECT doc_id, unnest(CASE WHEN len(w) >= 10
    THEN list_transform(range(len(w) - 9), i -> array_to_string(w[i+1:i+10], ' '))
    ELSE [] END) AS win
  FROM base
), dfh AS (
  SELECT win, count(DISTINCT doc_id) AS df FROM wins GROUP BY win
), per AS (
  SELECT w.doc_id,
    CAST(count(*) AS BIGINT) AS n_windows,
    CAST(sum(CASE WHEN d.df >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_windows
  FROM wins w JOIN dfh d USING (win) GROUP BY w.doc_id
)
SELECT doc.doc_id,
  coalesce(p.n_windows, 0) AS n_windows,
  coalesce(p.n_dup_windows, 0) AS n_dup_windows,
  round(CASE WHEN coalesce(p.n_windows, 0) > 0
        THEN coalesce(p.n_dup_windows, 0)::DOUBLE / p.n_windows ELSE 0.0 END, 6) AS dup_window_frac
FROM documents doc LEFT JOIN per p USING (doc_id)
"""


def _q_dedup_substring_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The removal half of windowed substring dedup
    (dedup.py:substring_dedup_apply): drop every duplicated 10-word span
    except its canonical (min doc_id, pos) occurrence; verbatim later
    copies collapse to empty text."""
    return D.substring_dedup_apply(_t(spark, sf_dir, "documents"), n=10)


# DuckDB's parallel UNNESTs in one SELECT zip element-wise, giving
# (value, position) pairs without a WITH ORDINALITY clause
_ORACLE_DEDUP_SUBSTRING_APPLY = r"""
WITH base AS (
  SELECT doc_id,
    CASE WHEN trim(text) = '' THEN [] ELSE regexp_split_to_array(trim(text), '\s+') END AS w
  FROM documents
), wins AS (
  SELECT doc_id,
    unnest(CASE WHEN len(w) >= 10 THEN list_transform(range(len(w) - 9),
      i -> array_to_string(w[i+1:i+10], ' ')) ELSE [] END) AS win,
    unnest(CASE WHEN len(w) >= 10 THEN range(len(w) - 9) ELSE [] END) AS pos
  FROM base
), dup AS (
  SELECT win FROM wins GROUP BY win HAVING count(DISTINCT doc_id) >= 2
), ranked AS (
  SELECT w.doc_id, w.pos,
         row_number() OVER (PARTITION BY w.win ORDER BY w.doc_id ASC, w.pos ASC) AS rn
  FROM wins w JOIN dup d USING (win)
), covered AS (
  SELECT DISTINCT doc_id, unnest(range(pos, pos + 10)) AS widx
  FROM ranked WHERE rn > 1
), wp AS (
  SELECT doc_id, unnest(w) AS word, unnest(range(len(w))) AS pos FROM base
), kept AS (
  SELECT p.doc_id, p.word, p.pos
  FROM wp p LEFT JOIN covered c ON p.doc_id = c.doc_id AND p.pos = c.widx
  WHERE c.widx IS NULL
), rebuilt AS (
  SELECT doc_id, string_agg(word, ' ' ORDER BY pos) AS clean_text,
         CAST(count(*) AS BIGINT) AS n_words_kept
  FROM kept GROUP BY doc_id
)
SELECT b.doc_id,
  coalesce(r.clean_text, '') AS clean_text,
  coalesce(r.n_words_kept, 0) AS n_words_kept,
  CAST(len(b.w) - coalesce(r.n_words_kept, 0) AS BIGINT) AS n_words_dropped
FROM base b LEFT JOIN rebuilt r USING (doc_id)
"""


def _q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    return TA.lang_id(_t(spark, sf_dir, "documents"))


def _lang_score_sql(words: tuple[str, ...]) -> str:
    lst = "[" + ", ".join(f"'{w}'" for w in words) + "]"
    return (
        "len(list_filter(regexp_split_to_array(trim(lower(text)), '\\s+'), "
        f"t -> list_contains({lst}, t)))"
    )


_LANGS_SORTED = sorted(TA.LANG_MARKERS)
_ORACLE_LANG_ID = f"""
WITH scored AS (
  SELECT doc_id,
    {", ".join(f"{_lang_score_sql(TA.LANG_MARKERS[lo])} AS score_{lo}" for lo in _LANGS_SORTED)}
  FROM documents
)
SELECT doc_id,
  CASE {" ".join(f"WHEN score_{lo} = greatest({', '.join('score_' + x for x in _LANGS_SORTED)}) THEN '{lo}'" for lo in _LANGS_SORTED)} END AS predicted_lang,
  greatest({", ".join("score_" + x for x in _LANGS_SORTED)}) AS marker_hits
FROM scored
"""


#: quality-gate rule table — single source of truth lives in the engine
#: (text_analysis.GATE_RULES, shared by the batch gate, the streaming gate,
#: and this oracle builder)
_GATE_RULES = TA.GATE_RULES


def _q_quality_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc keep/drop gate over the filter tier (text_analysis.py:
    quality_gate) — the decision a pretraining pipeline actually
    materializes (Gopher §A1 applies exactly this kind of rule list):
    length floor, composite quality, word/bigram repetition, language.
    Since r8 the engine fuses all features into ONE chain of narrow
    projections (no joins, one corpus scan, streaming-composable); the
    oracle still composes the three individual operators' oracle bodies, so
    the hash-match pins fused == composed on the real corpus. ``reasons``
    is a comma-joined, fixed-order list of fired rules ('' = keep)."""
    return TA.quality_gate(_t(spark, sf_dir, "documents"))


def _mk_oracle_quality_gate() -> str:
    """Composes the repetition/quality/lang oracle bodies as subquery CTEs
    (DuckDB allows WITH inside a parenthesized subquery) and applies the
    identical rule list."""
    cases = ", ".join(
        f"CASE WHEN {cond} THEN '{name}' END" for name, cond in _GATE_RULES
    )
    return f"""
WITH rep AS (SELECT * FROM ({_ORACLE_REPETITION})),
qual AS (SELECT * FROM ({_ORACLE_QUALITY})),
lang AS (SELECT * FROM ({_ORACLE_LANG_ID})),
j AS (
  SELECT r.doc_id, r.n_words, r.dup_word_frac, r.top_bigram_char_frac,
         q.quality_score, l.predicted_lang
  FROM rep r JOIN qual q USING (doc_id) JOIN lang l USING (doc_id)
),
flagged AS (
  SELECT doc_id, concat_ws(',', {cases}) AS reasons FROM j
)
SELECT doc_id, (reasons = '') AS keep, reasons FROM flagged
"""


def _q_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    return TA.fingerprint(_t(spark, sf_dir, "documents"))


_ORACLE_FINGERPRINT = """
WITH n AS (SELECT doc_id, trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS norm FROM documents)
SELECT doc_id, md5(norm) AS fingerprint, length(norm) AS norm_length FROM n
"""


def _q_lang_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    return TA.lang_distribution(_t(spark, sf_dir, "documents"))


_ORACLE_LANG_DIST = """
SELECT lang, count(*) AS n_docs, round(avg(length(text)), 6) AS avg_chars,
       round(count(*)::DOUBLE / (SELECT count(*) FROM documents), 6) AS share
FROM documents GROUP BY lang
"""


# ---------------------------------------------------------------------------
# retrieval utilities (Q15 / Q17 / Q18)
# ---------------------------------------------------------------------------

def _q_doc_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    return RT.document_summary(_t(spark, sf_dir, "documents"), max_summary_length=120)


_ORACLE_DOC_SUMMARY = """
WITH s AS (
  SELECT doc_id AS id, u.pos AS pos, u.s AS sentence
  FROM (
    SELECT doc_id,
      unnest(list_transform(generate_series(1, length(string_split_regex(text, '\\. '))),
             i -> {'pos': i, 's': string_split_regex(text, '\\. ')[i]})) AS u
    FROM documents)
), c AS (
  SELECT id, pos, sentence,
         sum(length(sentence) + 2) OVER (PARTITION BY id ORDER BY pos) - 2 AS cum_len
  FROM s
), kept AS (
  SELECT * FROM c WHERE cum_len <= 120 OR pos = 1
)
SELECT id, string_agg(sentence, '. ' ORDER BY pos) AS summary, count(*)::INT AS n_sentences
FROM kept GROUP BY id
"""


def _q_search_by_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    # F5 metadata predicates ∧ F7 content substring filter (models/rag.py:58-61)
    pred = (F.col("lang") == "de") & (F.col("n_chars") > 200) & F.col("text").contains("der")
    return RT.search_by_metadata(docs, pred, limit=10)


_ORACLE_SEARCH_BY_METADATA = """
SELECT * FROM documents
WHERE lang = 'de' AND n_chars > 200 AND contains(text, 'der')
ORDER BY doc_id ASC LIMIT 10
"""


#: BM25 constants shared by the Spark query and its oracle twin
_BM25_TERMS = ("dup", "hash", "join", "vector")
_BM25_K1, _BM25_B = 1.2, 0.75


def _q_bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 keyword top-k (retrieval.py:bm25_search) — new r8: the lexical
    ranker of a hybrid retrieval stack, beside the embedding-based
    rag_search. Query mixes a rare term ('dup', df≈26 at sf0.01 — high idf)
    with common ones, so the ranking exercises both idf extremes."""
    return RT.bm25_search(
        _t(spark, sf_dir, "documents"), " ".join(_BM25_TERMS), k=10,
        k1=_BM25_K1, b=_BM25_B,
    )


def _mk_oracle_bm25(limit: int = 10) -> str:
    """Mirrors the zero-shuffle Spark form exactly: per-term tf as list
    expressions, df/avgdl from one aggregate, and the score as a FIXED
    left-to-right sum over sorted terms (identical fp addition order)."""
    k1, b = _BM25_K1, _BM25_B
    tf_cols = ",\n    ".join(
        f"CAST(len(list_filter(toks, t -> t = '{t}')) AS DOUBLE) AS tf_{i}"
        for i, t in enumerate(_BM25_TERMS)
    )
    df_cols = ", ".join(
        f"CAST(sum(CASE WHEN tf_{i} > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df_{i}"
        for i in range(len(_BM25_TERMS))
    )
    contrib = " + ".join(
        f"(CASE WHEN tf_{i} > 0 THEN "
        f"ln(1 + (n_docs - df_{i} + 0.5) / (df_{i} + 0.5)) "
        f"* tf_{i} * ({k1} + 1) / (tf_{i} + {k1} * (1 - {b} + {b} * dl / avgdl)) "
        f"ELSE 0.0 END)"
        for i in range(len(_BM25_TERMS))
    )
    matched = " + ".join(
        f"(CASE WHEN tf_{i} > 0 THEN 1 ELSE 0 END)" for i in range(len(_BM25_TERMS))
    )
    return f"""
WITH d AS (
  SELECT doc_id,
    CASE WHEN trim(lower(text)) = '' THEN CAST([] AS VARCHAR[])
         ELSE regexp_split_to_array(trim(lower(text)), '\\s+') END AS toks
  FROM documents
),
per_doc AS (
  SELECT doc_id, len(toks) AS dl,
    {tf_cols}
  FROM d
),
stats AS (
  SELECT CAST(count(*) AS DOUBLE) AS n_docs, avg(dl) AS avgdl, {df_cols}
  FROM per_doc
)
SELECT doc_id,
  round({contrib}, 6) AS bm25,
  CAST({matched} AS INT) AS n_terms_matched
FROM per_doc CROSS JOIN stats
WHERE {matched} > 0
ORDER BY bm25 DESC, doc_id ASC LIMIT {limit}
"""


_ORACLE_BM25 = _mk_oracle_bm25()

_BM25_CACHE_ROOT = os.path.join(_CHECKOUT, ".bm25_cache")


def _bm25_index(spark: SparkSession, sf_dir: str) -> str:
    """Build (or staleness-check) the per-SF persisted BM25 index; returns
    its path. Shared by the graded probe query and bench.py's build-outside-
    the-timed-region warm-up (the IVF/BRP precedent)."""
    from mcp_synaptic_spark.operators.bm25_index import bm25_index_write

    path = os.path.join(_BM25_CACHE_ROOT, sf_dir.strip("/").replace("/", "_"))
    bm25_index_write(_t(spark, sf_dir, "documents"), path)
    return path


def _q_bm25_search_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-k via the PERSISTED inverted index (operators/bm25_index.py,
    new r9 — VERDICT r8 next-round #2): same query, k1/b and output contract
    as bm25_search, but the corpus-wide stats (df per term, N, avgdl) come
    from the one-time index build instead of a per-query corpus scan, and
    the postings scan is partition-pruned to the query terms' hash buckets.
    Probe == per-query form bit-for-bit (tests/test_bm25_index.py), so the
    oracle is the SAME SQL as bm25_search — a hash-green row here certifies
    the whole build/probe split. The index is cached per sf_dir with the
    n_docs staleness guard (the mllib/ivf idempotent-build contract)."""
    from mcp_synaptic_spark.operators.bm25_index import bm25_search_indexed

    path = _bm25_index(spark, sf_dir)
    return bm25_search_indexed(
        spark, path, " ".join(_BM25_TERMS), k=10, k1=_BM25_K1, b=_BM25_B
    )


def _q_bm25_index_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental BM25 index growth (VERDICT r14 next-round #5 — the third
    and last persisted index loses its rebuild-on-growth): the base index
    is built over the 80% of documents with doc_id % 5 != 0, the held-out
    20% is appended (operators/bm25_index.py:bm25_index_append — additive
    postings, exact incremental n_docs/sum_dl/avgdl, O(batch tokens), no
    base re-scan), then the SAME probe as bm25_search_indexed runs against
    the appended index. The append is probe-byte-identical to a full
    rebuild over base ∪ batch (test-pinned), so the oracle is the SAME SQL
    as bm25_search over the full documents table. Idempotent across
    processes at both stages (write staleness guard + append batch
    fingerprint). Reference parity: incremental add_document
    (rag/database/documents.py:22-64)."""
    from mcp_synaptic_spark.operators.bm25_index import (
        bm25_index_append,
        bm25_index_write,
        bm25_search_indexed,
    )

    docs = _t(spark, sf_dir, "documents")
    path = os.path.join(
        _BM25_CACHE_ROOT, sf_dir.strip("/").replace("/", "_") + "_append"
    )
    bm25_index_write(docs.where(F.col("doc_id") % 5 != 0), path)
    bm25_index_append(docs.where(F.col("doc_id") % 5 == 0), path)
    return bm25_search_indexed(
        spark, path, " ".join(_BM25_TERMS), k=10, k1=_BM25_K1, b=_BM25_B
    )


def _q_hybrid_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval via reciprocal-rank fusion (retrieval.py:
    hybrid_search_rrf, Cormack et al. SIGIR'09) — new r8: bm25_search's
    lexical top-20 fused with rag_search's vector top-20 (doc_id aligns
    with vec_id, the doc_get J2 convention), k0=60. Both input lists are
    ≤20 rows, so the fusion join is trivially broadcast-sized at any
    corpus scale; the cost is the two rankers, both already graded."""
    docs = _t(spark, sf_dir, "documents")
    emb = _t(spark, sf_dir, "embeddings")
    lex = RT.bm25_search(docs, " ".join(_BM25_TERMS), k=20, k1=_BM25_K1, b=_BM25_B).select(
        "doc_id",
        F.row_number()
        .over(Window.orderBy(F.desc("bm25"), F.col("doc_id").asc()))
        .alias("rank"),
    )
    sem = R.rag_search(
        _with_query_vec(emb, 0), "qv", id_col="vec_id", threshold=0.0, limit=20,
        max_results=20,
    ).select(F.col("vec_id").alias("doc_id"), "rank")
    return RT.hybrid_search_rrf(lex, sem, k=10)


_ORACLE_HYBRID = f"""
WITH lex AS (
  SELECT doc_id,
         CAST(row_number() OVER (ORDER BY bm25 DESC, doc_id ASC) AS INT) AS ra
  FROM ({_mk_oracle_bm25(20)})
),
q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0),
scored AS (
  SELECT e.vec_id AS doc_id,
         round({_clamped_cos('e.embedding::DOUBLE[]', 'q.qv', '0.0')}, 6) AS score
  FROM embeddings e, q
),
sem AS (
  SELECT doc_id,
         CAST(row_number() OVER (ORDER BY round(score, 9) DESC, doc_id ASC) AS INT) AS rb
  FROM (SELECT * FROM scored WHERE score >= 0.0
        ORDER BY round(score, 9) DESC, doc_id ASC LIMIT 20)
),
fused AS (
  SELECT coalesce(lex.doc_id, sem.doc_id) AS doc_id,
         round(coalesce(1.0 / (60 + ra), 0.0) + coalesce(1.0 / (60 + rb), 0.0), 6) AS rrf,
         ra IS NOT NULL AS in_lexical,
         rb IS NOT NULL AS in_semantic
  FROM lex FULL OUTER JOIN sem ON lex.doc_id = sem.doc_id
)
SELECT doc_id, rrf, in_lexical, in_semantic,
       CAST(row_number() OVER (ORDER BY rrf DESC, doc_id ASC) AS INT) AS rank
FROM (SELECT * FROM fused ORDER BY rrf DESC, doc_id ASC LIMIT 10)
"""


def _q_assemble_context(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    docs = _t(spark, sf_dir, "documents")
    topk = R.rag_search(
        _with_query_vec(emb, 0), "qv", id_col="vec_id", threshold=0.0, limit=5, max_results=5,
    ).select("vec_id", "score", "rank")
    ranked = topk.join(docs, topk["vec_id"] == docs["doc_id"]).select(
        F.col("rank"), F.col("text").alias("content")
    )
    return RT.assemble_context(ranked, max_context_length=800)


_ORACLE_ASSEMBLE_CONTEXT = f"""
WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0),
scored AS (
  SELECT e.vec_id,
         round({_clamped_cos('e.embedding::DOUBLE[]', 'q.qv', '0.0')}, 6) AS score
  FROM embeddings e, q
),
topk AS (
  SELECT vec_id, score FROM scored WHERE score >= 0.0
  ORDER BY round(score, 9) DESC, vec_id ASC LIMIT 5
),
ranked AS (
  SELECT d.text AS content,
         row_number() OVER (ORDER BY round(t.score, 9) DESC, t.vec_id ASC) AS rank
  FROM topk t JOIN documents d ON d.doc_id = t.vec_id
),
costed AS (
  SELECT *, length(content) + CASE WHEN rank > 1 THEN 2 ELSE 0 END AS cost FROM ranked
),
flagged AS (
  SELECT *, CASE WHEN sum(cost) OVER (ORDER BY rank) <= 800 THEN 1 ELSE 0 END AS fits FROM costed
),
inc AS (
  SELECT *, min(fits) OVER (ORDER BY rank) AS include FROM flagged
),
pc AS (
  SELECT *,
    coalesce(sum(CASE WHEN include = 1 THEN cost END)
             OVER (ORDER BY rank ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS prev_cum,
    coalesce(min(include) OVER (ORDER BY rank ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 1) AS prev_all
  FROM inc
),
parts AS (
  SELECT rank,
    CASE WHEN include = 1 THEN content
         WHEN include = 0 AND prev_all = 1 AND (800 - prev_cum - 2) >= 100
           THEN substr(content, 1, (800 - prev_cum - 2 - 3)::INT) || '...'
    END AS part
  FROM pc
)
SELECT string_agg(part, chr(10)||chr(10) ORDER BY rank) AS context,
       count(*)::INT AS n_docs,
       length(string_agg(part, chr(10)||chr(10) ORDER BY rank)) AS n_chars
FROM parts WHERE part IS NOT NULL
"""


# ---------------------------------------------------------------------------
# dedup suite (beyond-reference: exact / MinHash-LSH / n-gram / SimHash /
# embedding-cosine)
# ---------------------------------------------------------------------------

def _q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    return D.exact_dedup_groups(_t(spark, sf_dir, "documents"))


def _q_dedup_keep_first(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup applied: survivors only (min doc_id per content hash)."""
    out = D.exact_dedup(_t(spark, sf_dir, "documents"))
    return out.agg(
        F.count("*").alias("n_survivors"),
        F.count_distinct(F.md5(F.col("text"))).alias("n_distinct_contents"),
    )


_ORACLE_DEDUP_KEEP_FIRST = """
WITH kept AS (
  SELECT *, row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id ASC) AS rn
  FROM documents
)
SELECT count(*) AS n_survivors, count(DISTINCT md5(text)) AS n_distinct_contents
FROM kept WHERE rn = 1
"""


_BRP_CACHE_ROOT = os.path.join(_CHECKOUT, ".brp_cache")
_BRP_FIXTURE = os.path.join(_BRP_CACHE_ROOT, "brp_seed42_d64_t3.json")


def _mllib_lsh_index(spark: SparkSession, sf_dir: str):
    """Build-once persisted BRP-LSH index per sf_dir (the IVF treatment —
    VERDICT r6 item 4): the corpus is normalized + hashed ONCE from the
    committed plane fixture and written as parquet; queries probe the
    persisted layout. Idempotent across processes like _ivf_index; index
    construction is ETL, never a read-path cost."""
    import json as _json

    from mcp_synaptic_spark.operators.similarity import (
        mllib_lsh_index_load,
        mllib_lsh_index_write,
    )

    with open(_BRP_FIXTURE) as f:
        planes = _json.load(f)
    path = os.path.join(_BRP_CACHE_ROOT, "index_" + sf_dir.strip("/").replace("/", "_"))
    mllib_lsh_index_write(_t(spark, sf_dir, "embeddings"), path, planes, id_col="vec_id")
    return mllib_lsh_index_load(spark, path)


def _q_ann_mllib_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MLlib BucketedRandomProjectionLSH tier (Euclidean LSH over unit
    vectors ≡ cosine), served from the PERSISTED hashed corpus — no fit and
    no corpus transform in the query path (build/probe split, like the IVF
    tier). Deterministic: the projection vectors depend only on (seed, dim,
    numHashTables) — proven data-independent by tools/dump_brp_planes.py and
    committed as .brp_cache/brp_seed42_d64_t3.json — so the oracle replays
    MLlib's floor(dot/bucketLength) bucket ids, the any-table candidate
    union, and the exact re-rank from those literals (FIXTURES.md §7).
    Recall vs exact batch_topk additionally asserted in tests."""
    from mcp_synaptic_spark.operators.similarity import mllib_lsh_topk_indexed

    emb = _t(spark, sf_dir, "embeddings")
    indexed, planes, bl = _mllib_lsh_index(spark, sf_dir)
    queries = emb.where(F.col("vec_id") % 500 == 0).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    return mllib_lsh_topk_indexed(
        queries, indexed, planes, k=5, bucket_length=bl, id_col="vec_id"
    )


def _mllib_lsh_append_index(spark: SparkSession, sf_dir: str):
    """Build-once APPENDED BRP-LSH index per sf_dir (the ivf_append
    treatment): the base index hashes the 80% of embeddings with
    vec_id % 5 != 0 from the committed plane fixture, then the held-out
    20% is appended (similarity.py:mllib_lsh_index_append) — O(batch), no
    rewrite; the append's overlap guard drops already-indexed (id, vector)
    pairs, a no-op here because the slices are disjoint. Idempotent across
    processes at BOTH stages: the base write's staleness manifest uses a
    subset compare (append bookkeeping keys are not staleness) and the
    append's batch fingerprint makes re-appends a metadata no-op."""
    import json as _json

    from mcp_synaptic_spark.operators.similarity import (
        mllib_lsh_index_append,
        mllib_lsh_index_load,
        mllib_lsh_index_write,
    )

    with open(_BRP_FIXTURE) as f:
        planes = _json.load(f)
    path = os.path.join(
        _BRP_CACHE_ROOT,
        "index_" + sf_dir.strip("/").replace("/", "_") + "_append",
    )
    emb = _t(spark, sf_dir, "embeddings")
    mllib_lsh_index_write(
        emb.where(F.col("vec_id") % 5 != 0), path, planes, id_col="vec_id"
    )
    mllib_lsh_index_append(
        emb.where(F.col("vec_id") % 5 == 0), path, id_col="vec_id"
    )
    return mllib_lsh_index_load(spark, path)


def _q_ann_brp_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental BRP-LSH index growth (VERDICT r14 next-round #2,
    PLANS note 140's named registry row): append a held-out slice into the
    persisted hashed corpus — no re-hash of the base, no rewrite — then
    probe it. Every probed qid is an APPENDED vector (vec_id % 100 = 0 ⊂
    vec_id % 5 = 0), so the graded rows prove appended vectors are findable
    and rank identically to a native full build: the BRP hash is a pure
    function of (vector, planes, bucket_length), so the oracle is the SAME
    replayed-hash SQL as ann_mllib_lsh over the union corpus (base ∪ batch
    = the full embeddings table). Mirrors the reference's incremental
    add_document (rag/database/documents.py:22-64)."""
    from mcp_synaptic_spark.operators.similarity import mllib_lsh_topk_indexed

    emb = _t(spark, sf_dir, "embeddings")
    indexed, planes, bl = _mllib_lsh_append_index(spark, sf_dir)
    queries = emb.where(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    return mllib_lsh_topk_indexed(
        queries, indexed, planes, k=5, bucket_length=bl, id_col="vec_id"
    )


def _mk_oracle_ann_mllib_lsh(qid_mod: int = 500) -> str | None:
    """SQL twin of mllib_lsh_topk from the committed BRP plane fixture.

    Replays, with the fixture's unit vectors as literals, exactly what the
    Spark side executes (operators/similarity.py:101-137):
    1. L2-normalize (zero vector passes through — functions/vector.py:105);
    2. per-table bucket id h_i = floor(dot(vn, u_i) / bucketLength=1.0)
       (MLlib BucketedRandomProjectionLSHModel.hashFunction);
    3. candidates = DISTINCT pairs sharing ANY table's bucket (MLlib
       approxSimilarityJoin explodes hash entries and equi-joins per entry);
    4. exact re-rank: l2 = sqrt(Σ(qnᵢ−vnᵢ)²), keep l2 < threshold=2.0,
       score = round(1 − l2²/2, 6) (cos ≡ 1 − l2²/2 for unit vectors),
       rank over (round(score,9) DESC, vec_id ASC), top 5.

    Returns None (rows-only fallback) if the fixture is absent. Same
    documented fp fragility as the IVF oracle: a bucket id flips only if
    some dot/bucketLength sits within ~1e-15 of an integer boundary."""
    import json as _json

    try:
        with open(_BRP_FIXTURE) as f:
            planes = _json.load(f)
    except FileNotFoundError:
        return None
    lits = ["[" + ", ".join(repr(float(x)) for x in p) + "]" for p in planes]
    hashes = ", ".join(
        f"floor(list_dot_product(vn, {lit}) / 1.0) AS h{i}" for i, lit in enumerate(lits)
    )
    qh = ", ".join(f"h{i}" for i in range(len(lits)))
    match = " OR ".join(f"q.h{i} = c.h{i}" for i in range(len(lits)))
    return f"""
WITH raw AS (
  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
),
base AS (
  SELECT vec_id,
         CASE WHEN sqrt(list_dot_product(v, v)) = 0 THEN v
              ELSE list_transform(v, x -> x / sqrt(list_dot_product(v, v))) END AS vn
  FROM raw
),
hashed AS (
  SELECT vec_id, vn, {hashes} FROM base
),
q AS (SELECT vec_id AS qid, vn AS qn, {qh} FROM hashed WHERE vec_id % {qid_mod} = 0),
cand AS (
  SELECT DISTINCT q.qid, c.vec_id
  FROM q JOIN hashed c ON ({match})
),
scored AS (
  SELECT cand.qid, cand.vec_id,
         sqrt(list_sum(list_transform(generate_series(1, {_ANN_DIM}),
              i -> (q.qn[i] - c.vn[i]) * (q.qn[i] - c.vn[i])))) AS l2
  FROM cand
  JOIN q ON q.qid = cand.qid
  JOIN hashed c ON c.vec_id = cand.vec_id
),
ranked AS (
  SELECT qid, vec_id,
         round(1.0 - l2 * l2 / 2.0, 6) AS score,
         CAST(row_number() OVER (
           PARTITION BY qid
           ORDER BY round(round(1.0 - l2 * l2 / 2.0, 6), 9) DESC, vec_id ASC
         ) AS INT) AS rank
  FROM scored
  WHERE l2 < 2.0
)
SELECT qid, vec_id, score, rank FROM ranked WHERE rank <= 5
"""


_ORACLE_ANN_MLLIB_LSH = _mk_oracle_ann_mllib_lsh()
# same replayed-hash SQL over the full table: the appended index is
# probe-equivalent to a full build over base ∪ batch (= all embeddings)
_ORACLE_ANN_BRP_APPEND = _mk_oracle_ann_mllib_lsh(qid_mod=100)


_ORACLE_DEDUP_EXACT = """
SELECT md5(text) AS content_hash, count(*) AS n_copies, min(doc_id) AS keep_id
FROM documents GROUP BY md5(text) HAVING count(*) > 1
"""


def _q_dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    return D.minhash_lsh_pairs(_t(spark, sf_dir, "documents"), threshold=0.5)


_SHINGLES_CTE = """
d AS (SELECT doc_id AS id, regexp_split_to_array(trim(text), '\\s+') AS w FROM documents),
sh AS (
  SELECT id,
    CASE WHEN length(w) < 3 THEN [array_to_string(w, ' ')]
         ELSE list_distinct(list_transform(generate_series(1, length(w) - 2),
                i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))
    END AS shingles
  FROM d)
"""

_ORACLE_DEDUP_MINHASH = f"""
WITH {_SHINGLES_CTE.strip()},
ex AS (SELECT id, unnest(shingles) AS s FROM sh),
hashed AS (
  SELECT id, g.i,
         min(('0x' || substr(md5(g.i::VARCHAR || ':' || s), 1, 15))::BIGINT) AS mh
  FROM ex CROSS JOIN (SELECT unnest(generate_series(0, 15)) AS i) g
  GROUP BY id, g.i
),
bands AS (
  SELECT id, i // 2 AS band, string_agg(mh::VARCHAR, '-' ORDER BY i) AS band_key
  FROM hashed GROUP BY id, i // 2
),
cand AS (
  SELECT DISTINCT a.id AS id_a, b.id AS id_b
  FROM bands a JOIN bands b USING (band, band_key) WHERE a.id < b.id
),
-- r12: verify over 60-bit shingle digests, mirroring dedup.py's verify
-- block (fixed-width arrays instead of shingle strings on the join wire)
shd AS (
  SELECT id, list_distinct(list_transform(shingles,
           s -> ('0x' || substr(md5(s), 1, 15))::BIGINT)) AS dg
  FROM sh),
ver AS (
  SELECT id_a, id_b,
    round(length(list_intersect(sa.dg, sb.dg))::DOUBLE /
      (length(sa.dg) + length(sb.dg) - length(list_intersect(sa.dg, sb.dg))), 6) AS jaccard
  FROM cand JOIN shd sa ON sa.id = cand.id_a JOIN shd sb ON sb.id = cand.id_b
)
SELECT * FROM ver WHERE jaccard >= 0.5
"""


def _q_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental ingestion screen (dedup.py:dedup_incremental) — new r8:
    a synthetic arrival batch (verbatim copies of the %83 slice at +1e6
    ids; word-REVERSED texts of the %89 slice at +2e6 ids) screened
    against the full corpus. The copies must come back exact_dup with the
    original as match; reversed docs exercise the near/admitted boundary
    (reversal destroys word-3-grams but the small shared vocabulary keeps
    some bucket collisions — exactly the screen's real workload)."""
    docs = _t(spark, sf_dir, "documents")
    dup = docs.where(F.col("doc_id") % 83 == 0).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"), "text"
    )
    rev = docs.where(F.col("doc_id") % 89 == 0).select(
        (F.col("doc_id") + 2_000_000).alias("doc_id"),
        F.array_join(F.reverse(F.split(F.trim(F.col("text")), r"\s+")), " ").alias("text"),
    )
    # first word dropped: loses only the shingles containing it → high
    # jaccard vs the source → the near_dup verdict on a real doc
    mut = docs.where(F.col("doc_id") % 97 == 0).select(
        (F.col("doc_id") + 3_000_000).alias("doc_id"),
        F.expr(
            "array_join(slice(split(trim(text), '\\\\s+'), 2, "
            "size(split(trim(text), '\\\\s+'))), ' ')"
        ).alias("text"),
    )
    return D.dedup_incremental(docs, dup.unionAll(rev).unionAll(mut), threshold=0.5)


_ORACLE_DEDUP_INCREMENTAL = f"""
WITH batch AS (
  SELECT doc_id + 1000000 AS bid, text FROM documents WHERE doc_id % 83 = 0
  UNION ALL
  SELECT doc_id + 2000000 AS bid,
         array_to_string(list_reverse(regexp_split_to_array(trim(text), '\\s+')), ' ') AS text
  FROM documents WHERE doc_id % 89 = 0
  UNION ALL
  SELECT doc_id + 3000000 AS bid,
         array_to_string(
           regexp_split_to_array(trim(text), '\\s+')[2:length(regexp_split_to_array(trim(text), '\\s+'))],
           ' ') AS text
  FROM documents WHERE doc_id % 97 = 0
),
exact AS (
  SELECT b.bid, min(c.doc_id) AS exact_match
  FROM batch b JOIN documents c ON md5(c.text) = md5(b.text)
  GROUP BY b.bid
),
{_SHINGLES_CTE.strip()},
bw AS (SELECT bid, regexp_split_to_array(trim(text), '\\s+') AS w FROM batch),
bsh AS (
  SELECT bid,
    CASE WHEN length(w) < 3 THEN [array_to_string(w, ' ')]
         ELSE list_distinct(list_transform(generate_series(1, length(w) - 2),
                i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))
    END AS shingles
  FROM bw),
cex AS (SELECT id, unnest(shingles) AS s FROM sh),
chashed AS (
  SELECT id, g.i,
         min(('0x' || substr(md5(g.i::VARCHAR || ':' || s), 1, 15))::BIGINT) AS mh
  FROM cex CROSS JOIN (SELECT unnest(generate_series(0, 15)) AS i) g
  GROUP BY id, g.i
),
cbands AS (
  SELECT id, i // 2 AS band, string_agg(mh::VARCHAR, '-' ORDER BY i) AS band_key
  FROM chashed GROUP BY id, i // 2
),
bex AS (SELECT bid, unnest(shingles) AS s FROM bsh),
bhashed AS (
  SELECT bid, g.i,
         min(('0x' || substr(md5(g.i::VARCHAR || ':' || s), 1, 15))::BIGINT) AS mh
  FROM bex CROSS JOIN (SELECT unnest(generate_series(0, 15)) AS i) g
  GROUP BY bid, g.i
),
bbands AS (
  SELECT bid, i // 2 AS band, string_agg(mh::VARCHAR, '-' ORDER BY i) AS band_key
  FROM bhashed GROUP BY bid, i // 2
),
cand AS (
  SELECT DISTINCT b.bid, c.id AS cid
  FROM bbands b JOIN cbands c USING (band, band_key)
),
-- r12: verify over 60-bit shingle digests, mirroring dedup.py's recipe
cshd AS (
  SELECT id, list_distinct(list_transform(shingles,
           s -> ('0x' || substr(md5(s), 1, 15))::BIGINT)) AS dg
  FROM sh),
bshd AS (
  SELECT bid, list_distinct(list_transform(shingles,
           s -> ('0x' || substr(md5(s), 1, 15))::BIGINT)) AS dg
  FROM bsh),
ver AS (
  SELECT bid, cid,
    round(length(list_intersect(sb.dg, sc.dg))::DOUBLE /
      (length(sb.dg) + length(sc.dg) - length(list_intersect(sb.dg, sc.dg))), 6) AS jaccard
  FROM cand JOIN bshd sb USING (bid) JOIN cshd sc ON sc.id = cand.cid
  WHERE round(length(list_intersect(sb.dg, sc.dg))::DOUBLE /
      (length(sb.dg) + length(sc.dg) - length(list_intersect(sb.dg, sc.dg))), 6) >= 0.5
),
near AS (
  SELECT bid, jaccard AS near_jaccard, cid AS near_match FROM (
    SELECT bid, cid, jaccard,
           row_number() OVER (PARTITION BY bid ORDER BY jaccard DESC, cid ASC) AS rn
    FROM ver
  ) WHERE rn = 1
)
SELECT b.bid AS doc_id,
  CASE WHEN e.exact_match IS NOT NULL THEN 'exact_dup'
       WHEN n.near_match IS NOT NULL THEN 'near_dup'
       ELSE 'admitted' END AS verdict,
  coalesce(e.exact_match, n.near_match) AS match_id,
  CASE WHEN e.exact_match IS NOT NULL THEN CAST(1.0 AS DOUBLE) ELSE n.near_jaccard END AS jaccard
FROM batch b LEFT JOIN exact e ON e.bid = b.bid LEFT JOIN near n ON n.bid = b.bid
"""


def _q_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents").where(F.col("doc_id") % 2 == 0)
    return D.ngram_jaccard_pairs(docs, threshold=0.3)


_ORACLE_DEDUP_NGRAM = f"""
WITH d AS (SELECT doc_id AS id, regexp_split_to_array(trim(text), '\\s+') AS w
           FROM documents WHERE doc_id % 2 = 0),
sh AS (
  SELECT id,
    CASE WHEN length(w) < 3 THEN [array_to_string(w, ' ')]
         ELSE list_distinct(list_transform(generate_series(1, length(w) - 2),
                i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))
    END AS shingles
  FROM d)
SELECT a.id AS id_a, b.id AS id_b,
  round(length(list_intersect(a.shingles, b.shingles))::DOUBLE /
    (length(a.shingles) + length(b.shingles) - length(list_intersect(a.shingles, b.shingles))), 6) AS jaccard
FROM sh a JOIN sh b ON a.id < b.id
WHERE length(list_intersect(a.shingles, b.shingles))::DOUBLE /
    (length(a.shingles) + length(b.shingles) - length(list_intersect(a.shingles, b.shingles))) >= 0.3
"""


def _q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grades the DEFAULT simhash path — auto-capped since r9 (VERDICT r8
    #4). The uncapped exhaustive oracle below stays valid because
    auto_max_bucket's 1024-doc floor provably exceeds any bucket occupancy
    at oracle SFs (≤500 docs → capped ≡ uncapped, test-pinned); at harness
    scale the same default is what bounds the degenerate-bucket cliff."""
    docs = _t(spark, sf_dir, "documents").where(F.col("doc_id") % 5 == 0)
    return D.simhash_pairs(docs, max_hamming=3)


_ORACLE_DEDUP_SIMHASH = """
WITH toks AS (
  SELECT doc_id AS id, unnest(regexp_split_to_array(trim(text), '\\s+')) AS tok
  FROM documents WHERE doc_id % 5 = 0
),
h AS (SELECT id, ('0x' || substr(md5(tok), 1, 15))::BIGINT AS th FROM toks),
bitsums AS (
  SELECT id, g.b, sum(CASE WHEN (th >> g.b) & 1 = 1 THEN 1 ELSE -1 END) AS s
  FROM h CROSS JOIN (SELECT unnest(generate_series(0, 31)) AS b) g
  GROUP BY id, g.b
),
sig AS (
  SELECT id, sum(CASE WHEN s > 0 THEN (1::BIGINT << b) ELSE 0 END) AS simhash
  FROM bitsums GROUP BY id
)
SELECT a.id AS id_a, b.id AS id_b, bit_count(xor(a.simhash, b.simhash)) AS hamming
FROM sig a JOIN sig b ON a.id < b.id
WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
"""


#: capped-simhash dial parameters: max_hamming=10 splits the 32-bit signature
#: into 11 pigeonhole blocks (ten 2-bit + one 12-bit) — 2-bit blocks have 4
#: values, so ~100 docs pile ~25 rows into each bucket and max_bucket=10
#: actually bites (the graded corpus has no degenerate skew at the default
#: 4x8-bit blocking, which would make a capped query == the uncapped one).
_SIMHASH_CAP_HAMMING, _SIMHASH_CAP_BUCKET = 10, 10


def _q_dedup_simhash_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The max_bucket occupancy dial (operators/dedup.py:_cap_bucket_occupancy,
    VERDICT r6 item 5) graded end-to-end: pairs within Hamming 10 that share
    at least one SURVIVING block bucket (occupancy <= 10). Output is a strict,
    deterministic subset of the uncapped pigeonhole result — the documented
    recall/cost trade, oracle-reproduced bucket-for-bucket."""
    docs = _t(spark, sf_dir, "documents").where(F.col("doc_id") % 5 == 0)
    return D.simhash_pairs(
        docs, max_hamming=_SIMHASH_CAP_HAMMING, max_bucket=_SIMHASH_CAP_BUCKET
    )


def _mk_oracle_dedup_simhash_capped() -> str:
    """SQL twin of the capped pigeonhole pipeline: same signature derivation
    as _ORACLE_DEDUP_SIMHASH, then the SAME block split (bits // n_blocks
    with the remainder on the last block), occupancy filter, bucket
    self-join, distinct, exact XOR+bit_count verify."""
    bits, n_blocks = 32, _SIMHASH_CAP_HAMMING + 1
    widths = [bits // n_blocks] * n_blocks
    widths[-1] += bits % n_blocks
    offsets = [sum(widths[:i]) for i in range(n_blocks)]
    block_rows = ", ".join(
        f"({i}, {offsets[i]}, {(1 << widths[i]) - 1})" for i in range(n_blocks)
    )
    return f"""
WITH toks AS (
  SELECT doc_id AS id, unnest(regexp_split_to_array(trim(text), '\\s+')) AS tok
  FROM documents WHERE doc_id % 5 = 0
),
h AS (SELECT id, ('0x' || substr(md5(tok), 1, 15))::BIGINT AS th FROM toks),
bitsums AS (
  SELECT id, g.b, sum(CASE WHEN (th >> g.b) & 1 = 1 THEN 1 ELSE -1 END) AS s
  FROM h CROSS JOIN (SELECT unnest(generate_series(0, 31)) AS b) g
  GROUP BY id, g.b
),
sig AS (
  SELECT id, sum(CASE WHEN s > 0 THEN (1::BIGINT << b) ELSE 0 END) AS simhash
  FROM bitsums GROUP BY id
),
blocks AS (
  SELECT sig.id, sig.simhash, g.blk, (sig.simhash >> g.off) & g.mask AS val
  FROM sig CROSS JOIN (SELECT * FROM (VALUES {block_rows}) t(blk, off, mask)) g
),
kept AS (
  SELECT b.* FROM blocks b
  JOIN (
    SELECT blk, val FROM blocks GROUP BY blk, val
    HAVING count(*) <= {_SIMHASH_CAP_BUCKET}
  ) ok USING (blk, val)
),
cand AS (
  SELECT DISTINCT a.id AS id_a, b.id AS id_b, a.simhash AS sa, b.simhash AS sb
  FROM kept a JOIN kept b ON a.blk = b.blk AND a.val = b.val AND a.id < b.id
)
SELECT id_a, id_b, bit_count(xor(sa, sb)) AS hamming
FROM cand WHERE bit_count(xor(sa, sb)) <= {_SIMHASH_CAP_HAMMING}
"""


_ORACLE_DEDUP_SIMHASH_CAPPED = _mk_oracle_dedup_simhash_capped()


def _q_dedup_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup with the r8 auto-switch default: exact N² below
    AUTO_EXACT_MAX_PAIRS candidate pairs (all graded SFs and the sf0.1
    bench, whose 2,000 vectors make 4M pairs — bit-exact vs the N² oracle),
    the measured LSH twin above it (the 10× scale runs). tests/test_dedup.py
    pins the switch-over."""
    return D.embedding_near_dup_pairs(_t(spark, sf_dir, "embeddings"), threshold=0.45)


_ORACLE_DEDUP_EMBEDDING = f"""
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
  round({_cos('a.embedding::DOUBLE[]', 'b.embedding::DOUBLE[]')}, 6) AS cosine
FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
WHERE round({_cos('a.embedding::DOUBLE[]', 'b.embedding::DOUBLE[]')}, 6) >= 0.45
"""


# _LSH_PLANES=7 matches similarity.auto_n_planes(2000) — the bench corpus —
# so the pinned deterministic query exercises the same bucket occupancy the
# auto-sized scale path would pick; the oracle below regenerates its plane
# literals from these constants, so query and twin stay in lockstep.
_LSH_DIM, _LSH_PLANES, _LSH_TABLES, _LSH_SEED, _LSH_THRESH = 64, 7, 6, 42, 0.45


def _q_dedup_embedding_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale path for embedding near-dup: multi-table hyperplane LSH candidate
    buckets + exact cosine verify (operators/dedup.py:embedding_near_dup_pairs_lsh).
    Sub-quadratic: the self-join key is (table, bucket) and vectors re-join
    only for the candidate subset. Deterministic given the seed; output ⊆
    dedup_embedding at the same threshold."""
    return D.embedding_near_dup_pairs_lsh(
        _t(spark, sf_dir, "embeddings"),
        threshold=_LSH_THRESH,
        dim=_LSH_DIM,
        n_planes=_LSH_PLANES,
        n_tables=_LSH_TABLES,
        seed=_LSH_SEED,
    )


def _mk_oracle_dedup_embedding_lsh() -> str:
    """Full SQL twin of the LSH pipeline: the SAME seeded hyperplanes are
    embedded as list literals, per-table bucket ids recomputed with
    list_dot_product sign bits, candidates = pairs sharing any table bucket,
    then exact cosine verify. (N² in the oracle is fine — the oracle doesn't
    need to scale, it needs to be independently correct.)"""
    from mcp_synaptic_spark.operators.similarity import _hyperplanes

    bcols, conds = [], []
    for t in range(_LSH_TABLES):
        planes = _hyperplanes(_LSH_DIM, _LSH_PLANES, _LSH_SEED + t)
        terms = []
        for i, p in enumerate(planes):
            lit = "[" + ", ".join(repr(float(x)) for x in p) + "]"
            terms.append(f"(CASE WHEN list_dot_product(v, {lit}) >= 0 THEN {2**i} ELSE 0 END)")
        bcols.append("(" + " + ".join(terms) + f") AS b{t}")
        conds.append(f"a.b{t} = b.b{t}")
    cos = _cos("a.v", "b.v")
    nl = ",\n         "
    return f"""
WITH base AS (
  SELECT vec_id AS id, embedding::DOUBLE[] AS v,
         {nl.join(bcols)}
  FROM embeddings
)
SELECT a.id AS id_a, b.id AS id_b, round({cos}, 6) AS cosine
FROM base a JOIN base b ON a.id < b.id AND ({' OR '.join(conds)})
WHERE round({cos}, 6) >= {_LSH_THRESH}
"""


_ORACLE_DEDUP_EMBEDDING_LSH = _mk_oracle_dedup_embedding_lsh()


# ---------------------------------------------------------------------------
# training-data pipeline tier (new round 7): clustering, decontamination,
# splits, sampling, PII redaction — operators/clustering.py, operators/
# pipeline.py. No reference analogue (its dedup stops at content_hash
# equality, models/rag.py:35-38); these are the corpus-preparation steps a
# production pipeline runs between pair generation and tokenization.
# ---------------------------------------------------------------------------

def _q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash pairs → connected components → canonical flag per member."""
    pairs = D.minhash_lsh_pairs(_t(spark, sf_dir, "documents"), threshold=0.5)
    comp = CL.connected_components(pairs)
    return comp.select(
        F.col("id").alias("doc_id"),
        F.col("component").alias("cluster_id"),
        (F.col("id") == F.col("component")).alias("is_canonical"),
    ).orderBy("doc_id")


#: transitive closure of the symmetric pair graph; min reachable id = the
#: component label the Spark HashMin loop converges to.
_CC_CTES = f"""
p AS ({_ORACLE_DEDUP_MINHASH.strip()}),
e AS (SELECT id_a AS a, id_b AS b FROM p UNION SELECT id_b, id_a FROM p),
reach(v, r) AS (
  SELECT a, a FROM e
  UNION
  SELECT reach.v, e.b FROM reach JOIN e ON reach.r = e.a
),
comp AS (SELECT v, min(r) AS cid FROM reach GROUP BY v)
"""

_ORACLE_DEDUP_CLUSTERS = f"""
WITH RECURSIVE {_CC_CTES.strip()}
SELECT v AS doc_id, cid AS cluster_id, (v = cid) AS is_canonical
FROM comp ORDER BY doc_id
"""


def _q_dedup_clusters_twostar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dedup_clusters through the diameter-independent large-star/small-star
    algorithm (clustering.py:connected_components_twostar, Kiveris et al.
    SoCC'14) — new r8. The component labels are algorithm-independent (min
    reachable id), so the query shares dedup_clusters' recursive-CTE oracle;
    grading both pins the equivalence end-to-end on a real pair graph, not
    just on the unit tests' synthetic topologies."""
    pairs = D.minhash_lsh_pairs(_t(spark, sf_dir, "documents"), threshold=0.5)
    comp = CL.connected_components(pairs, algorithm="twostar")
    return comp.select(
        F.col("id").alias("doc_id"),
        F.col("component").alias("cluster_id"),
        (F.col("id") == F.col("component")).alias("is_canonical"),
    ).orderBy("doc_id")


def _q_dedup_apply_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end corpus dedup: drop every non-canonical cluster member.

    The kept-chars sum pins WHICH documents survived, not just how many."""
    docs = _t(spark, sf_dir, "documents")
    kept = CL.dedup_corpus(docs, D.minhash_lsh_pairs(docs, threshold=0.5))
    return kept.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_kept"),
        F.sum("n_chars").cast("bigint").alias("kept_chars"),
    )


_ORACLE_DEDUP_APPLY_CLUSTERS = f"""
WITH RECURSIVE {_CC_CTES.strip()}
SELECT CAST(count(*) AS BIGINT) AS n_kept, CAST(sum(n_chars) AS BIGINT) AS kept_chars
FROM documents
WHERE doc_id NOT IN (SELECT v FROM comp WHERE v <> cid)
"""


#: chunking constants shared by the Spark query and the oracle twin
_CHUNK_WORDS, _CHUNK_OVERLAP = 40, 10
_CHUNK_STRIDE = _CHUNK_WORDS - _CHUNK_OVERLAP


def _q_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAG ingestion chunking (pipeline.py:chunk_documents) — new r8:
    overlapping word-window chunks with integer-arithmetic layout (no
    fp-ceil), zero shuffles. The 10–99-word synthetic docs exercise the
    single-chunk, exact-boundary, and short-tail cases."""
    from mcp_synaptic_spark.operators.pipeline import chunk_documents

    return chunk_documents(
        _t(spark, sf_dir, "documents"),
        chunk_words=_CHUNK_WORDS,
        overlap=_CHUNK_OVERLAP,
    )


_ORACLE_CHUNK_DOCUMENTS = f"""
WITH d AS (
  SELECT doc_id,
    CASE WHEN trim(text) = '' THEN CAST([] AS VARCHAR[])
         ELSE regexp_split_to_array(trim(text), '\\s+') END AS w
  FROM documents
),
b AS (
  SELECT doc_id, w,
    CASE WHEN len(w) = 0 THEN 0
         WHEN len(w) <= {_CHUNK_WORDS} THEN 1
         ELSE 1 + (len(w) - {_CHUNK_WORDS} + {_CHUNK_STRIDE} - 1) // {_CHUNK_STRIDE}
    END AS n_chunks
  FROM d
),
c AS (
  SELECT doc_id, w, unnest(generate_series(0, CAST(n_chunks AS INT) - 1)) AS chunk_idx
  FROM b WHERE n_chunks > 0
)
SELECT doc_id,
  CAST(chunk_idx AS INT) AS chunk_idx,
  array_to_string(w[chunk_idx * {_CHUNK_STRIDE} + 1 : chunk_idx * {_CHUNK_STRIDE} + {_CHUNK_WORDS}], ' ') AS chunk_text,
  CAST(len(w[chunk_idx * {_CHUNK_STRIDE} + 1 : chunk_idx * {_CHUNK_STRIDE} + {_CHUNK_WORDS}]) AS INT) AS n_chunk_words,
  CAST(chunk_idx * {_CHUNK_STRIDE} AS INT) AS start_word
FROM c
"""


def _q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Eval-leakage guard: train docs (id%97≠0) sharing any word-4-gram with
    the held-out eval slice (id%97=0). n=4 because the synthetic docs are
    10-99 words of a small vocabulary; production uses n≈13 — same plan."""
    docs = _t(spark, sf_dir, "documents")
    ev = docs.where(F.col("doc_id") % 97 == 0)
    tr = docs.where(F.col("doc_id") % 97 != 0)
    return P.ngram_decontaminate(tr, ev, n=4).orderBy("doc_id")


_ORACLE_DECONTAMINATE = """
WITH d AS (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS w FROM documents),
sh AS (
  SELECT doc_id,
    CASE WHEN length(w) < 4 THEN [array_to_string(w, ' ')]
         ELSE list_distinct(list_transform(generate_series(1, length(w) - 3),
                i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3]))
    END AS grams
  FROM d),
g AS (SELECT doc_id, unnest(grams) AS ng FROM sh),
gh AS (SELECT doc_id, ('0x' || substr(md5(ng), 1, 15))::BIGINT AS dg FROM g),
ev AS (SELECT DISTINCT dg FROM gh WHERE doc_id % 97 = 0)
SELECT gh.doc_id AS doc_id, CAST(count(DISTINCT gh.dg) AS BIGINT) AS n_hits
FROM gh JOIN ev USING (dg)
WHERE gh.doc_id % 97 <> 0
GROUP BY gh.doc_id ORDER BY doc_id
"""


def _q_train_test_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 90/5/5 hash split; per-split count + avg length prove
    both the assignment and that it hit the whole corpus."""
    s = P.hash_split(
        _t(spark, sf_dir, "documents"),
        splits={"train": 0.9, "val": 0.05, "test": 0.05},
        salt="split-v1",
    )
    return (
        s.groupBy("split")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.round(F.avg("n_chars"), 6).alias("avg_chars"),
        )
        .orderBy("split")
    )


_ORACLE_TRAIN_TEST_SPLIT = """
WITH b AS (
  SELECT *, ('0x' || substr(md5('split-v1:' || doc_id::VARCHAR), 1, 15))::BIGINT % 1000000 AS bucket
  FROM documents),
s AS (
  SELECT *, CASE WHEN bucket < 900000 THEN 'train'
                 WHEN bucket < 950000 THEN 'val'
                 ELSE 'test' END AS split
  FROM b)
SELECT split, CAST(count(*) AS BIGINT) AS n_docs, round(avg(n_chars), 6) AS avg_chars
FROM s GROUP BY split ORDER BY split
"""


def _q_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inject deterministic synthetic PII (email+IP+phone for id%3≠0 docs —
    the corpus itself is PII-free word soup), then redact and count."""
    docs = _t(spark, sf_dir, "documents")
    synth = docs.withColumn(
        "text",
        F.when(
            F.col("doc_id") % 3 != 0,
            F.concat(
                F.col("text"),
                F.lit(" contact user"),
                F.col("doc_id").cast("string"),
                F.lit("@mail.example.com from 10.0."),
                (F.col("doc_id") % 200).cast("string"),
                F.lit(".7 call +1 555-010-"),
                F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
            ),
        ).otherwise(F.col("text")),
    )
    return P.pii_redact(synth).select("doc_id", "clean_text", "n_redacted").orderBy("doc_id")


# sequential count-then-replace per pattern, same order as DEFAULT_PII_PATTERNS;
# 'g' flag because DuckDB's regexp_replace is first-match-only by default
# while Spark's replaces all.
_ORACLE_PII_REDACT = """
WITH synth AS (
  SELECT doc_id,
    CASE WHEN doc_id % 3 <> 0 THEN
      text || ' contact user' || doc_id::VARCHAR || '@mail.example.com from 10.0.'
           || (doc_id % 200)::VARCHAR || '.7 call +1 555-010-'
           || lpad((doc_id % 10000)::VARCHAR, 4, '0')
    ELSE text END AS t
  FROM documents),
s1 AS (SELECT doc_id,
         len(regexp_extract_all(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}')) AS c1,
         regexp_replace(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '[PII:email]', 'g') AS t1
       FROM synth),
s2 AS (SELECT doc_id, c1,
         len(regexp_extract_all(t1, '\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b')) AS c2,
         regexp_replace(t1, '\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b', '[PII:ipv4]', 'g') AS t2
       FROM s1),
s3 AS (SELECT doc_id, c1, c2,
         len(regexp_extract_all(t2, '\\+\\d{1,2}[- ]\\d{3}[- ]\\d{3}[- ]\\d{4}')) AS c3,
         regexp_replace(t2, '\\+\\d{1,2}[- ]\\d{3}[- ]\\d{3}[- ]\\d{4}', '[PII:phone]', 'g') AS t3
       FROM s2)
SELECT doc_id, t3 AS clean_text, CAST(c1 + c2 + c3 AS BIGINT) AS n_redacted
FROM s3 ORDER BY doc_id
"""


def _q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 20% stratified sample by lang; the sampled-chars sum
    pins the exact member set, not just per-stratum counts."""
    s = P.stratified_sample_exact(
        _t(spark, sf_dir, "documents"), frac=0.2, by="lang", salt="sample-v1"
    )
    return (
        s.groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_sampled"),
            F.sum("n_chars").cast("bigint").alias("sampled_chars"),
        )
        .orderBy("lang")
    )


_ORACLE_STRATIFIED_SAMPLE = """
WITH h AS (
  SELECT lang, doc_id, n_chars,
         ('0x' || substr(md5('sample-v1:' || doc_id::VARCHAR), 1, 15))::BIGINT AS hh
  FROM documents),
r AS (
  SELECT lang, doc_id, n_chars,
         row_number() OVER (PARTITION BY lang ORDER BY hh, doc_id) AS rn,
         count(*) OVER (PARTITION BY lang) AS cnt
  FROM h)
SELECT lang, CAST(count(*) AS BIGINT) AS n_sampled, CAST(sum(n_chars) AS BIGINT) AS sampled_chars
FROM r WHERE rn <= ceil(round(0.2 * cnt, 9))
GROUP BY lang ORDER BY lang
"""


def _q_dedup_within_doc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Intra-doc repetition removal: inject a duplicated head-line into even
    docs (head-20-words as a line before AND after the body), then strip
    repeats keeping first occurrence."""
    docs = _t(spark, sf_dir, "documents")
    head = F.array_join(F.slice(F.split(F.col("text"), " "), 1, 20), " ")
    synth = F.when(
        F.col("doc_id") % 2 == 0,
        F.concat(head, F.lit("\n"), F.col("text"), F.lit("\n"), head),
    ).otherwise(F.col("text"))
    out = P.dedup_lines(docs.withColumn("text", synth))
    return out.select(
        "doc_id",
        "clean_text",
        F.size(F.split(F.col("text"), "\n")).cast("bigint").alias("n_lines_before"),
        F.size(F.split(F.col("clean_text"), "\n")).cast("bigint").alias("n_lines_after"),
    ).orderBy("doc_id")


# list_filter with the (value, index) lambda + list_position over the prefix
# = order-preserving first-occurrence dedup (DuckDB's list_distinct does NOT
# preserve order); length(x) < 1 mirrors the operator's min_len=1 exemption
# that always preserves blank lines.
_ORACLE_DEDUP_WITHIN_DOC = """
WITH synth AS (
  SELECT doc_id,
    CASE WHEN doc_id % 2 = 0 THEN
      array_to_string((string_split(text, ' '))[1:20], ' ') || chr(10) || text
        || chr(10) || array_to_string((string_split(text, ' '))[1:20], ' ')
    ELSE text END AS t
  FROM documents),
l AS (SELECT doc_id, t, string_split(t, chr(10)) AS ls FROM synth),
dd AS (SELECT doc_id, ls,
         list_filter(ls, (x, i) -> length(x) < 1 OR list_position(ls[1:i-1], x) = 0) AS cl
       FROM l)
SELECT doc_id, array_to_string(cl, chr(10)) AS clean_text,
       CAST(length(ls) AS BIGINT) AS n_lines_before,
       CAST(length(cl) AS BIGINT) AS n_lines_after
FROM dd ORDER BY doc_id
"""


def _q_corpus_prep_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed end-to-end corpus-preparation story: near-dup CLUSTER
    dedup → benchmark DECONTAMINATION (drop) → deterministic hash SPLIT,
    summarized per split. Proves the pipeline operators compose — the
    per-split doc count and char sum pin the exact surviving set."""
    docs = _t(spark, sf_dir, "documents")
    deduped = CL.dedup_corpus(docs, D.minhash_lsh_pairs(docs, threshold=0.5))
    ev = docs.where(F.col("doc_id") % 97 == 0)
    train = deduped.where(F.col("doc_id") % 97 != 0)
    clean = P.ngram_decontaminate(train, ev, n=4, mode="drop")
    split = P.hash_split(
        clean, splits={"train": 0.9, "val": 0.05, "test": 0.05}, salt="split-v1"
    )
    return (
        split.groupBy("split")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_chars").cast("bigint").alias("sum_chars"),
        )
        .orderBy("split")
    )


_ORACLE_CORPUS_PREP = f"""
WITH RECURSIVE {_CC_CTES.strip()},
kept AS (
  SELECT * FROM documents
  WHERE doc_id NOT IN (SELECT v FROM comp WHERE v <> cid)),
d AS (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS w FROM documents),
g4 AS (
  SELECT doc_id,
    unnest(CASE WHEN length(w) < 4 THEN [array_to_string(w, ' ')]
         ELSE list_distinct(list_transform(generate_series(1, length(w) - 3),
                i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3]))
    END) AS ng
  FROM d),
gh AS (SELECT doc_id, ('0x' || substr(md5(ng), 1, 15))::BIGINT AS dg FROM g4),
evd AS (SELECT DISTINCT dg FROM gh WHERE doc_id % 97 = 0),
contaminated AS (
  SELECT DISTINCT gh.doc_id FROM gh JOIN evd USING (dg) WHERE gh.doc_id % 97 <> 0),
clean AS (
  SELECT * FROM kept
  WHERE doc_id % 97 <> 0 AND doc_id NOT IN (SELECT doc_id FROM contaminated)),
s AS (
  SELECT *, CASE
    WHEN ('0x' || substr(md5('split-v1:' || doc_id::VARCHAR), 1, 15))::BIGINT % 1000000 < 900000 THEN 'train'
    WHEN ('0x' || substr(md5('split-v1:' || doc_id::VARCHAR), 1, 15))::BIGINT % 1000000 < 950000 THEN 'val'
    ELSE 'test' END AS split
  FROM clean)
SELECT split, CAST(count(*) AS BIGINT) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS sum_chars
FROM s GROUP BY split ORDER BY split
"""


def _q_source_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain capping: at most 10 docs per source (every source is over the
    cap in this corpus, so all 20 sources clamp to exactly 10); the char
    sum pins WHICH docs each source kept."""
    capped = P.cap_per_source(_t(spark, sf_dir, "documents"), cap=10, salt="cap-v1")
    return (
        capped.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_kept"),
            F.sum("n_chars").cast("bigint").alias("kept_chars"),
        )
        .orderBy("source")
    )


_ORACLE_SOURCE_CAP = """
WITH h AS (
  SELECT source, doc_id, n_chars,
         ('0x' || substr(md5('cap-v1:' || doc_id::VARCHAR), 1, 15))::BIGINT AS hh
  FROM documents),
r AS (
  SELECT source, doc_id, n_chars,
         row_number() OVER (PARTITION BY source ORDER BY hh, doc_id) AS rn
  FROM h)
SELECT source, CAST(count(*) AS BIGINT) AS n_kept, CAST(sum(n_chars) AS BIGINT) AS kept_chars
FROM r WHERE rn <= 10
GROUP BY source ORDER BY source
"""


def _q_source_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source-mix rebalancing: keep src0 at 50%, src1 at 10%, drop src2,
    everything else untouched — per-source counts + char sums pin the
    exact surviving mixture."""
    mixed = P.weighted_source_sample(
        _t(spark, sf_dir, "documents"),
        {"src0": 0.5, "src1": 0.1, "src2": 0.0},
        default=1.0,
        salt="mix-v1",
    )
    return (
        mixed.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_kept"),
            F.sum("n_chars").cast("bigint").alias("kept_chars"),
        )
        .orderBy("source")
    )


_ORACLE_SOURCE_MIX = """
WITH b AS (
  SELECT source, doc_id, n_chars,
         ('0x' || substr(md5('mix-v1:' || doc_id::VARCHAR), 1, 15))::BIGINT % 1000000 AS bucket
  FROM documents),
s AS (
  SELECT * FROM b
  WHERE bucket < CASE source WHEN 'src0' THEN 500000 WHEN 'src1' THEN 100000
                             WHEN 'src2' THEN 0 ELSE 1000000 END)
SELECT source, CAST(count(*) AS BIGINT) AS n_kept, CAST(sum(n_chars) AS BIGINT) AS kept_chars
FROM s GROUP BY source ORDER BY source
"""


def _q_decontaminate_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine decontamination (pipeline.py:semantic_decontaminate):
    flag train vectors ≥0.35 cosine-similar to any eval vector (eval =
    vec_id % 97 == 0, the same split the n-gram decontaminate query uses).
    The semantic net catches paraphrased leakage invisible to verbatim
    n-grams; threshold tuned to the synthetic corpus like dedup_embedding's
    0.45."""
    from mcp_synaptic_spark.operators.pipeline import semantic_decontaminate

    emb = _t(spark, sf_dir, "embeddings")
    return semantic_decontaminate(
        emb.where(F.col("vec_id") % 97 != 0),
        emb.where(F.col("vec_id") % 97 == 0),
        threshold=0.35,
    )


_ORACLE_DECONTAMINATE_SEMANTIC = f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
ev AS (SELECT vec_id AS eval_id, v AS evec FROM e WHERE vec_id % 97 = 0),
tr AS (SELECT vec_id, v AS tv FROM e WHERE vec_id % 97 != 0),
m AS (
  SELECT t.vec_id, s.eval_id, round({_cos('t.tv', 's.evec')}, 6) AS cosine
  FROM tr t CROSS JOIN ev s
  WHERE round({_cos('t.tv', 's.evec')}, 6) >= 0.35
),
r AS (
  SELECT vec_id, eval_id, cosine,
         row_number() OVER (PARTITION BY vec_id ORDER BY cosine DESC, eval_id ASC) AS rn,
         count(*) OVER (PARTITION BY vec_id) AS nm,
         max(cosine) OVER (PARTITION BY vec_id) AS mc
  FROM m
)
SELECT vec_id, CAST(nm AS BIGINT) AS n_matches, mc AS max_cosine, eval_id AS top_eval_id
FROM r WHERE rn = 1
"""


def _q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-sequence packing (pipeline.py:pack_sequences): each doc's
    window assignment in the GPT-style concatenate-then-chunk layout —
    hash-sharded, id-ordered running token sums, 512-token windows."""
    from mcp_synaptic_spark.operators.pipeline import pack_sequences

    return pack_sequences(_t(spark, sf_dir, "documents"), window_tokens=512, n_shards=8)


_BUDGET_TOKENS = 12_000


def _q_token_budget_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-weighted token-budget corpus selection (pipeline.py:
    select_token_budget, new r9): score every doc with quality_score, then
    keep the highest-quality prefix whose running token sum fits the
    budget — the corpus-assembly step between scoring and tokenization.
    The Spark side is the exact two-phase bucket selection (no global
    single-partition window); the oracle IS the naive global window, so a
    hash-green row proves the two-phase plan bit-equals it."""
    from mcp_synaptic_spark.operators.pipeline import select_token_budget

    scored = TA.quality_score(_t(spark, sf_dir, "documents"))
    return select_token_budget(scored, _BUDGET_TOKENS)


_ORACLE_TOKEN_BUDGET = f"""
WITH base AS (
  SELECT doc_id, text,
    length(text) AS n_chars,
    CASE WHEN trim(text) = '' THEN 0 ELSE len(regexp_split_to_array(trim(text), '\\s+')) END AS n_words,
    len(regexp_extract_all(text, '[^\\w\\s]')) AS n_punct,
    len(list_filter(regexp_split_to_array(trim(lower(text)), '\\s+'),
                    t -> list_contains({_STOP_LIST_SQL}, t))) AS n_stop
  FROM documents
), feat AS (
  SELECT doc_id, n_words,
    CASE WHEN n_words > 0 THEN n_chars::DOUBLE / n_words ELSE 0.0 END AS mean_word_len,
    CASE WHEN n_chars > 0 THEN n_punct::DOUBLE / n_chars ELSE 0.0 END AS punct_ratio,
    CASE WHEN n_words > 0 THEN n_stop::DOUBLE / n_words ELSE 0.0 END AS stop_ratio,
    CASE WHEN n_chars BETWEEN 50 AND 5000 THEN 1.0 ELSE 0.0 END AS length_ok,
    n_chars
  FROM base
), scored AS (
  SELECT doc_id, CAST(n_words AS BIGINT) AS n_words,
    round(0.3 * length_ok
        + 0.2 * (CASE WHEN mean_word_len BETWEEN 3.0 AND 12.0 THEN 1.0 ELSE 0.0 END)
        + 0.2 * (CASE WHEN punct_ratio <= 0.2 THEN 1.0 ELSE 0.0 END)
        + 0.3 * least(1.0, stop_ratio * 5), 6) AS quality_score
  FROM feat
), cum AS (
  SELECT doc_id, n_words, quality_score,
    SUM(n_words) OVER (ORDER BY quality_score DESC, doc_id ASC
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c
  FROM scored
)
SELECT doc_id, n_words, quality_score FROM cum WHERE c <= {_BUDGET_TOKENS}
"""


_ORACLE_PACK_SEQUENCES = r"""
WITH b AS (
  SELECT doc_id,
    CAST(('0x' || substr(md5('pack-v1:' || doc_id::VARCHAR), 1, 15))::BIGINT % 8 AS INT) AS shard,
    CAST(CASE WHEN trim(text) = '' THEN 0
         ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS BIGINT) AS n_tokens
  FROM documents),
s AS (
  SELECT doc_id, shard, n_tokens,
    sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens AS start_offset
  FROM b)
SELECT doc_id, shard, n_tokens, CAST(start_offset AS BIGINT) AS start_offset,
       CAST(start_offset // 512 AS BIGINT) AS seq_id
FROM s
"""


# ---------------------------------------------------------------------------
# contract surface
# ---------------------------------------------------------------------------

# ---------------------------------------------------------------------------
# Temporal joins (new r9, beyond-reference tier): as-of join + range join
# ---------------------------------------------------------------------------

def _q_events_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (operators/temporal.py): for every purchase event, the
    most recent at-or-before click by the same user — union + ONE keyed
    exchange + running window, no join operator (plan pinned in
    tests/test_temporal.py). Oracle: DuckDB LEFT JOIN LATERAL ... ORDER BY
    ts DESC, event_id DESC LIMIT 1 — an independent per-row argmax
    formulation."""
    ev = _t(spark, sf_dir, "events")
    purchases = ev.where(F.col("event_type") == "purchase")
    clicks = ev.where(F.col("event_type") == "click")
    out = T.asof_join(
        purchases, clicks, by="user_id", right_cols=("value",),
        right_tiebreak="event_id", prefix="click_",
    )
    return out.select(
        "event_id",
        "user_id",
        F.round("value", 6).alias("purchase_value"),
        F.col("click_ts"),
        F.round("click_value", 6).alias("click_value"),
    )


_ORACLE_EVENTS_ASOF = """
SELECT l.event_id, l.user_id,
       round(l.value, 6) AS purchase_value,
       m.ts AS click_ts,
       round(m.value, 6) AS click_value
FROM events l
LEFT JOIN LATERAL (
  SELECT r.ts, r.value
  FROM events r
  WHERE r.user_id = l.user_id AND r.event_type = 'click' AND r.ts <= l.ts
  ORDER BY r.ts DESC, r.event_id DESC
  LIMIT 1
) m ON TRUE
WHERE l.event_type = 'purchase'
"""


def _q_events_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing range join (operators/temporal.py): clicks in the hour
    before each purchase, same user, half-open [ts-1h, ts). Bucketed into
    window-sized bins so the inequality join is a (user, bucket)
    equi-join; zero-match purchases kept with count 0. Sum runs over
    DECIMAL(18,6) (exact, order-independent) then back to double."""
    ev = _t(spark, sf_dir, "events")
    purchases = ev.where(F.col("event_type") == "purchase")
    clicks = ev.where(F.col("event_type") == "click")
    out = T.range_join_agg(
        purchases, clicks, by="user_id", window_seconds=3600,
        left_id="event_id", aggs=(("count", "*"), ("sum", "value")),
    )
    return out.select(
        "event_id",
        F.col("n_right").alias("n_clicks"),
        F.round(F.col("sum_value"), 6).alias("sum_click_value"),
    )


_ORACLE_EVENTS_RANGE = """
SELECT l.event_id,
       CAST(count(r.event_id) AS BIGINT) AS n_clicks,
       round(CAST(coalesce(sum(CAST(r.value AS DECIMAL(18,6))), 0) AS DOUBLE), 6)
         AS sum_click_value
FROM events l
LEFT JOIN events r
  ON r.user_id = l.user_id AND r.event_type = 'click'
 AND r.ts >= l.ts - INTERVAL 1 HOUR AND r.ts < l.ts
WHERE l.event_type = 'purchase'
GROUP BY l.event_id
"""


def _q_corpus_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus profile (operators/stats.py): one aggregate pass — counts,
    exact power-sum moments (bit-stable under any partitioning), exact
    interpolated p50/p90/p99, exact distinct sources. The sketch arm
    (corpus_summary_approx: GK percentiles + HLL++ distinct) is the
    100 TB deployment form, accuracy-pinned against this in
    tests/test_stats.py."""
    docs = _t(spark, sf_dir, "documents")
    return ST.corpus_summary(docs)


_ORACLE_CORPUS_SUMMARY = f"""
WITH w AS (
  SELECT {_WORD_COUNT_SQL.format(c="text")} AS nw, source
  FROM documents
)
SELECT CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(nw) AS BIGINT) AS total_words,
       CAST(min(nw) AS INT) AS min_words,
       CAST(max(nw) AS INT) AS max_words,
       round(CAST(sum(nw) AS DOUBLE) / count(*), 6) AS mean_words,
       round(sqrt((CAST(sum(nw * nw) AS DOUBLE)
                   - CAST(sum(nw) AS DOUBLE) * CAST(sum(nw) AS DOUBLE) / count(*))
                  / (count(*) - 1)), 6) AS stddev_words,
       CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
       round(quantile_cont(nw, 0.5), 6) AS p50_words,
       round(quantile_cont(nw, 0.9), 6) AS p90_words,
       round(quantile_cont(nw, 0.99), 6) AS p99_words
FROM w
"""


# ---------------------------------------------------------------------------
# edit-distance similarity join + conversion funnel (beyond-reference, r9)
# ---------------------------------------------------------------------------

def _q_dedup_editdist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance string similarity join (operators/strings.py), auto
    arm: all document pairs whose 32-char text prefix is within Levenshtein
    distance 2 — the fuzzy complement of dedup_exact's content_hash
    (reference has no fuzzy matching at all). Below AUTO_EXACT_MAX_PAIRS
    (a measured performance crossover — both arms are exact, see
    operators/strings.py) this runs the length-banded quadratic arm: the
    driver's sf0.01 grade takes that path, the sf0.1 bench routes to the
    PassJoin segment arm. The arms are output-IDENTICAL, so both share
    the naive N² oracle and the switch can never change results."""
    return SG.edit_distance_pairs(
        _t(spark, sf_dir, "documents"), key_col="text", key_len=32, max_distance=2
    )


def _q_dedup_editdist_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale arm of dedup_editdist, force-pinned: PassJoin partition
    signatures (PVLDB 5(3) 2011) — k+1 positional segments as an EQUI-join
    key, ±k start window, banded-levenshtein verify. Exact by pigeonhole
    (no recall argument needed), so it grades against the same naive
    oracle as the audit arm."""
    return SG.edit_distance_pairs_segment(
        _t(spark, sf_dir, "documents"), key_col="text", key_len=32, max_distance=2
    )


_ORACLE_DEDUP_EDITDIST = """
WITH k AS (
  SELECT doc_id, substr(text, 1, 32) AS key FROM documents WHERE text IS NOT NULL
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       CAST(levenshtein(a.key, b.key) AS INT) AS dist
FROM k a JOIN k b ON a.doc_id < b.doc_id
WHERE levenshtein(a.key, b.key) <= 2
"""


def _q_events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered conversion funnel (operators/funnel.py): users reaching
    view → click → purchase, each step within 1 day of the previous
    step's earliest qualifying time. ONE user-keyed shuffle + a codegen
    HOF fold; the oracle is the k-1-self-join relational form (correlated
    mins), an independent formulation of the same chain."""
    return FN.funnel(
        _t(spark, sf_dir, "events"),
        steps=("view", "click", "purchase"),
        horizon="1d",
    )


_ORACLE_EVENTS_FUNNEL = """
WITH s1 AS (
  SELECT user_id, min(ts) AS t FROM events
  -- NULL users / NULL ts dropped to match the engine (ADVICE r9 /
  -- r10 review: without this, s1 counts the NULL pseudo-user group
  -- and users whose only step-1 events have NULL ts)
  WHERE event_type = 'view' AND user_id IS NOT NULL AND ts IS NOT NULL
  GROUP BY 1
), s2 AS (
  SELECT e.user_id, min(e.ts) AS t FROM events e JOIN s1 USING (user_id)
  WHERE e.event_type = 'click' AND e.ts >= s1.t AND e.ts <= s1.t + INTERVAL 1 DAY
  GROUP BY 1
), s3 AS (
  SELECT e.user_id, min(e.ts) AS t FROM events e JOIN s2 USING (user_id)
  WHERE e.event_type = 'purchase' AND e.ts >= s2.t AND e.ts <= s2.t + INTERVAL 1 DAY
  GROUP BY 1
), c AS (
  SELECT 1 AS step, 'view' AS step_name, (SELECT count(*) FROM s1) AS n
  UNION ALL SELECT 2, 'click', (SELECT count(*) FROM s2)
  UNION ALL SELECT 3, 'purchase', (SELECT count(*) FROM s3)
)
SELECT CAST(step AS INT) AS step, step_name, CAST(n AS BIGINT) AS n_users,
       round(CAST(n AS DOUBLE) / NULLIF((SELECT count(*) FROM s1), 0), 6) AS frac_of_first
FROM c
"""


def _q_events_conversion_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user time-to-convert (operators/funnel.py conversion_lags): hop
    and end-to-end latencies for users completing view→click→purchase,
    microsecond longs off the same single user-keyed fold as the funnel.
    Oracle is the independent correlated-min chain joined back per user."""
    return FN.conversion_lags(
        _t(spark, sf_dir, "events"),
        steps=("view", "click", "purchase"),
        horizon="1d",
    )


_ORACLE_EVENTS_CONVERSION_LAG = """
WITH s1 AS (
  SELECT user_id, min(ts) AS t FROM events
  -- NULL users / NULL ts dropped to match the engine (ADVICE r9 /
  -- r10 review: without this, s1 counts the NULL pseudo-user group
  -- and users whose only step-1 events have NULL ts)
  WHERE event_type = 'view' AND user_id IS NOT NULL AND ts IS NOT NULL
  GROUP BY 1
), s2 AS (
  SELECT e.user_id, min(e.ts) AS t FROM events e JOIN s1 USING (user_id)
  WHERE e.event_type = 'click' AND e.ts >= s1.t AND e.ts <= s1.t + INTERVAL 1 DAY
  GROUP BY 1
), s3 AS (
  SELECT e.user_id, min(e.ts) AS t FROM events e JOIN s2 USING (user_id)
  WHERE e.event_type = 'purchase' AND e.ts >= s2.t AND e.ts <= s2.t + INTERVAL 1 DAY
  GROUP BY 1
)
SELECT s3.user_id,
       CAST(epoch_us(s2.t) - epoch_us(s1.t) AS BIGINT) AS lag_us_1,
       CAST(epoch_us(s3.t) - epoch_us(s2.t) AS BIGINT) AS lag_us_2,
       CAST(epoch_us(s3.t) - epoch_us(s1.t) AS BIGINT) AS lag_us_total
FROM s3 JOIN s2 USING (user_id) JOIN s1 USING (user_id)
"""


def _q_events_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention triangle (operators/retention.py): users cohorted
    by first-activity day, distinct-user counts per (cohort, offset). ONE
    event-sized shuffle, no event-sized join — per-user distinct-day sets
    fold map-side (collect_set partial agg, which also dedups so there is
    no separate distinct pass), cohort = array_min, cohort_size rides a
    window max over the already-aggregated triangle. Oracle is the
    relational form: activity ⋈ first-day per user, then group."""
    return RTN.cohort_retention(_t(spark, sf_dir, "events"))


_ORACLE_EVENTS_RETENTION = """
WITH act AS (
  SELECT DISTINCT user_id AS uid, CAST(date_trunc('day', ts) AS DATE) AS day
  FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL
), c AS (
  SELECT uid, min(day) AS cohort_day FROM act GROUP BY uid
), tri AS (
  SELECT c.cohort_day, datediff('day', c.cohort_day, a.day) AS day_offset,
         count(*) AS n
  FROM act a JOIN c USING (uid) GROUP BY 1, 2
)
SELECT cohort_day, CAST(day_offset AS INT) AS day_offset,
       CAST(n AS BIGINT) AS n_users,
       CAST(max(CASE WHEN day_offset = 0 THEN n END)
              OVER (PARTITION BY cohort_day) AS BIGINT) AS cohort_size,
       round(CAST(n AS DOUBLE)
             / max(CASE WHEN day_offset = 0 THEN n END)
                 OVER (PARTITION BY cohort_day), 6) AS retention_rate
FROM tri
"""


def _q_events_retention_weekly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Week-granularity cohort retention — exercises the week-offset branch
    (date_trunc('week') pins both sides to Mondays, so datediff/7 is
    exact). Same single-event-shuffle shape as the daily triangle."""
    return RTN.cohort_retention(_t(spark, sf_dir, "events"), granularity="week")


_ORACLE_EVENTS_RETENTION_WEEKLY = """
WITH act AS (
  SELECT DISTINCT user_id AS uid, CAST(date_trunc('week', ts) AS DATE) AS day
  FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL
), c AS (
  SELECT uid, min(day) AS cohort_day FROM act GROUP BY uid
), tri AS (
  SELECT c.cohort_day,
         datediff('week', c.cohort_day, a.day) AS day_offset,
         count(*) AS n
  FROM act a JOIN c USING (uid) GROUP BY 1, 2
)
SELECT cohort_day, CAST(day_offset AS INT) AS day_offset,
       CAST(n AS BIGINT) AS n_users,
       CAST(max(CASE WHEN day_offset = 0 THEN n END)
              OVER (PARTITION BY cohort_day) AS BIGINT) AS cohort_size,
       round(CAST(n AS DOUBLE)
             / max(CASE WHEN day_offset = 0 THEN n END)
                 OVER (PARTITION BY cohort_day), 6) AS retention_rate
FROM tri
"""


def _q_events_active_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAU + trailing-7-day active users per activity day
    (operators/retention.py). posexplode tags each (user, day)'s k report
    days with its window offset; min(pos) per (user, report-day) yields
    rolling_au AND dau (pos-0 rows) from one relation, and dau > 0 is the
    observed-day clamp — ONE event pass, two map-side-partial shuffles,
    zero joins, vs the oracle's day×events range join that would re-scan
    events once per report day at 100 TB."""
    return RTN.rolling_active_users(_t(spark, sf_dir, "events"), window_days=7)


_ORACLE_EVENTS_ACTIVE_USERS = """
WITH act AS (
  SELECT DISTINCT user_id AS uid, CAST(date_trunc('day', ts) AS DATE) AS day
  FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL
), days AS (SELECT DISTINCT day FROM act)
SELECT d.day,
       CAST((SELECT count(*) FROM act a WHERE a.day = d.day) AS BIGINT) AS dau,
       CAST((SELECT count(DISTINCT a.uid) FROM act a
             WHERE a.day BETWEEN d.day - 6 AND d.day) AS BIGINT) AS rolling_au
FROM days d
"""


def _q_tfidf_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 TF-IDF characteristic terms per language
    (operators/terms.py): codegen split/explode tokenizer, tf and df as
    map-side-partial aggregations (vocab-bounded wire volume per partition
    — Zipf-skew-safe), smooth idf via a 1-row broadcast N, window top-k
    over the vocab-sized scored table. Ranking uses the ROUNDED score so
    the tie-break is deterministic across engines' ln() ulp differences."""
    return TM.tfidf_terms(
        _t(spark, sf_dir, "documents"), group_col="lang", top_k=10
    )


_ORACLE_TFIDF_TERMS = """
WITH toks AS (
  SELECT doc_id, lang,
         unnest(string_split_regex(lower(text), '[^a-z0-9]+')) AS term
  FROM documents WHERE text IS NOT NULL
), t AS (
  SELECT * FROM toks WHERE length(term) >= 2
), tf AS (
  SELECT lang, term, count(*) AS tf FROM t GROUP BY 1, 2
), df AS (
  SELECT term, count(DISTINCT doc_id) AS df FROM t GROUP BY 1
), n AS (
  SELECT count(*) AS n_docs FROM documents WHERE text IS NOT NULL
), s AS (
  SELECT lang, term, tf, df,
         round(tf * (ln((n_docs + 1.0) / (df + 1.0)) + 1.0), 6) AS score
  FROM tf JOIN df USING (term) CROSS JOIN n
)
SELECT lang, term, CAST(tf AS BIGINT) AS tf, CAST(df AS BIGINT) AS df,
       score, CAST(rank AS INT) AS rank
FROM (
  SELECT *, row_number() OVER (PARTITION BY lang ORDER BY score DESC, term) AS rank
  FROM s
)
WHERE rank <= 10
"""


def _q_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise vocabulary Jaccard between sources (operators/terms.py):
    one tokenize pass → distinct (source, term) is the only token-volume
    shuffle; the intersection self-join fans out at most |sources|² rows
    per term, corpus-size-independent. The crawl-auditing 'which sources
    duplicate each other's language' diagnostic."""
    return TM.group_vocab_overlap(_t(spark, sf_dir, "documents"))


_ORACLE_SOURCE_OVERLAP = """
WITH toks AS (
  SELECT source,
         unnest(string_split_regex(lower(text), '[^a-z0-9]+')) AS term
  FROM documents WHERE text IS NOT NULL
), gt AS (
  SELECT DISTINCT source AS g, term FROM toks WHERE length(term) >= 2
), sizes AS (
  SELECT g, count(*) AS vocab FROM gt GROUP BY 1
), inter AS (
  SELECT a.g AS group_a, b.g AS group_b, count(*) AS n_common
  FROM gt a JOIN gt b ON a.term = b.term AND a.g < b.g
  GROUP BY 1, 2
)
SELECT group_a, group_b,
       CAST(sa.vocab AS BIGINT) AS vocab_a,
       CAST(sb.vocab AS BIGINT) AS vocab_b,
       CAST(n_common AS BIGINT) AS n_common,
       round(CAST(n_common AS DOUBLE) / (sa.vocab + sb.vocab - n_common), 6)
         AS jaccard
FROM inter
JOIN sizes sa ON sa.g = group_a
JOIN sizes sb ON sb.g = group_b
"""


def _q_events_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-rate anomaly screen (operators/temporal.py): hourly counts per
    type z-scored against that type's own rate distribution. ONE scan and
    ONE event-volume shuffle (map-side-partial count); the per-type
    moments are WINDOW aggregates of exact integer power sums over the
    tiny bucket table (the stats-join form scanned events twice — plan
    pin tests/test_plan_shapes.py), and the variance expression shape is
    mirrored exactly in the oracle so both engines run the same IEEE
    sequence."""
    return T.rate_anomalies(_t(spark, sf_dir, "events"))


_ORACLE_EVENTS_ANOMALY = """
WITH b AS (
  SELECT event_type, date_trunc('hour', ts) AS bucket_start,
         count(*) AS n_events
  FROM events WHERE ts IS NOT NULL GROUP BY 1, 2
), s AS (
  SELECT event_type, count(*) AS c,
         CAST(sum(n_events) AS BIGINT) AS s1,
         CAST(sum(n_events * n_events) AS BIGINT) AS s2
  FROM b GROUP BY 1
)
SELECT b.event_type, b.bucket_start, CAST(b.n_events AS BIGINT) AS n_events,
       round(CAST(s1 AS DOUBLE) / c, 6) AS mean_events,
       round(CASE WHEN c > 1
                   AND (CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * s1 / c) / (c - 1) > 0
             THEN (b.n_events - CAST(s1 AS DOUBLE) / c)
                  / sqrt((CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * s1 / c) / (c - 1))
             END, 6) AS z_score,
       coalesce(abs((b.n_events - CAST(s1 AS DOUBLE) / c)
                    / sqrt((CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * s1 / c) / (c - 1)))
                >= 3.0
                AND c > 1
                AND (CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * s1 / c) / (c - 1) > 0,
                FALSE) AS is_anomaly
FROM b JOIN s USING (event_type)
"""


def _q_embedding_screen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding hygiene gate (operators/embedding_qa.py): per-row
    NaN/Inf/zero/dim/norm-contract screening — ONE scan, ZERO shuffles
    (pure codegen projection; plan-pinned in tests/test_embedding_qa.py).
    Checks a fixed contract, not corpus stats, so the verdict is
    deterministic per row and the op composes as a streaming gate."""
    return embedding_screen(
        _t(spark, sf_dir, "embeddings"), dim=64, min_norm=0.5, max_norm=2.0
    )


_ORACLE_EMBEDDING_SCREEN = """
WITH s AS (
  SELECT vec_id,
         CAST(coalesce(len(embedding), -1) AS INT) AS n_dims,
         coalesce(len(embedding), -1) != 64 AS bad_dim,
         coalesce(list_aggregate(
             list_transform(embedding, x -> x IS NULL OR isnan(x) OR isinf(x)),
             'bool_or'
         ), FALSE) AS nonfinite,
         coalesce(len(embedding) > 0 AND list_aggregate(
             list_transform(embedding, x -> x = 0.0), 'bool_and'
         ), FALSE) AS zero,
         sqrt(list_sum(list_transform(embedding, x -> x * x))) AS raw_norm
  FROM embeddings
), g AS (
  SELECT vec_id, n_dims, bad_dim, nonfinite, zero,
         CASE WHEN NOT nonfinite AND NOT bad_dim THEN raw_norm END AS norm
  FROM s
)
SELECT vec_id, n_dims, round(norm, 6) AS norm, bad_dim, nonfinite, zero,
       coalesce(norm < 0.5, FALSE) AS norm_low,
       coalesce(norm > 2.0, FALSE) AS norm_high,
       (NOT bad_dim AND NOT nonfinite AND NOT zero
        AND NOT coalesce(norm < 0.5, FALSE)
        AND NOT coalesce(norm > 2.0, FALSE)) AS is_valid
FROM g
"""


def _q_dims_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension embedding profile (operators/embedding_qa.py): the
    dead/collapsed-dimension detector. posexplode + ONE keyed shuffle with
    map-side partials (wire carries |dims| rows per partition); min/max
    exact doubles; the mean sums in DECIMAL(28,12) so the total is
    order-independent across any partitioning — and across engines."""
    return dims_profile(_t(spark, sf_dir, "embeddings"))


_ORACLE_DIMS_PROFILE = """
WITH x AS (
  -- parallel unnests zip in DuckDB: position sequence alongside values
  SELECT CAST(unnest(generate_series(1, len(embedding))) - 1 AS INT) AS dim,
         unnest(embedding) AS x
  FROM embeddings WHERE embedding IS NOT NULL
), f AS (
  SELECT dim,
         CASE WHEN x IS NULL OR isnan(x) OR isinf(x) THEN NULL ELSE x END AS fin,
         (x IS NULL OR isnan(x) OR isinf(x)) AS dmg
  FROM x
)
SELECT dim, CAST(count(*) AS BIGINT) AS n,
       CAST(count(CASE WHEN fin != 0.0 THEN 1 END) AS BIGINT) AS n_nonzero,
       CAST(count(CASE WHEN dmg THEN 1 END) AS BIGINT) AS n_damaged,
       min(fin) AS min_x, max(fin) AS max_x,
       round(CASE WHEN count(fin) > 0
             THEN CAST(sum(CAST(fin AS DECIMAL(28,12))) AS DOUBLE) / count(fin)
             END, 6) AS mean_x,
       (count(CASE WHEN fin != 0.0 THEN 1 END) = 0 OR min(fin) = max(fin))
         AS is_dead
FROM f GROUP BY dim
"""


def _q_text_screen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document transport-damage screen (operators/text_qa.py):
    control chars, U+FFFD mojibake tombstones, pathological line length,
    non-ASCII ratio. ONE scan, ZERO shuffles, fully codegen (plan-pinned
    in tests/test_text_qa.py); regex classes use only \\x escapes so the
    identical pattern text parses the same under Java regex and RE2."""
    return text_screen(_t(spark, sf_dir, "documents"))


_ORACLE_TEXT_SCREEN = """
WITH s AS (
  SELECT doc_id, text,
         length(text) AS n_chars,
         CAST(len(string_split(text, chr(10))) AS INT) AS n_lines,
         CAST(list_max(list_transform(string_split(text, chr(10)),
                                      x -> length(x))) AS INT) AS max_line_len,
         length(regexp_replace(text,
                '[\\x20-\\x7E\\x09\\x0A\\x0D]', '', 'g')) AS n_non_ascii,
         regexp_matches(text, '[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F\\x7F]')
           AS has_control,
         contains(text, chr(65533)) AS has_replacement
  FROM documents WHERE text IS NOT NULL
)
SELECT doc_id, CAST(n_chars AS INT) AS n_chars, n_lines, max_line_len,
       round(CASE WHEN n_chars > 0
                  THEN CAST(n_non_ascii AS DOUBLE) / n_chars
                  ELSE 0.0 END, 6) AS non_ascii_ratio,
       has_control, has_replacement,
       max_line_len > 4000 AS long_line,
       (has_control OR has_replacement OR max_line_len > 4000) AS is_suspect
FROM s
"""


def _q_dedup_rate_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-dup rate per source (operators/dedup.py dedup_rate_by_group):
    the crawl-health number. Digest-only distinct — the exchange carries
    md5 digests, never document bodies."""
    return D.dedup_rate_by_group(_t(spark, sf_dir, "documents"))


_ORACLE_DEDUP_RATE = """
SELECT source AS "group", CAST(count(*) AS BIGINT) AS n_docs,
       CAST(count(DISTINCT text) AS BIGINT) AS n_unique,
       round(1 - CAST(count(DISTINCT text) AS DOUBLE) / count(*), 6)
         AS dup_rate
FROM documents GROUP BY 1
"""


def _drift_snapshots(spark: SparkSession, sf_dir: str):
    """Even/odd doc_id halves of the documents table — a deterministic
    snapshot pair for the drift queries (the even half is 'yesterday',
    the odd half 'today')."""
    docs = _t(spark, sf_dir, "documents")
    return docs.where(F.col("doc_id") % 2 == 0), docs.where(F.col("doc_id") % 2 == 1)


def _q_corpus_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PSI distribution drift of n_chars between the even/odd doc_id
    snapshot halves over fixed boundaries (operators/drift.py
    distribution_drift): the between-snapshot monitor a 100 TB ingest
    alarms on. One scan per snapshot, one bucket-grain shuffle, totals as
    a global window over the |buckets|-row table - r10, tail-born
    (window full), pinned for the r11 rotation."""
    a, b = _drift_snapshots(spark, sf_dir)
    return DR.distribution_drift(
        a, b, value_col="n_chars", boundaries=[150, 250, 350, 450]
    )


def _q_corpus_drift_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Categorical PSI drift of the lang mix between the same snapshot
    halves (operators/drift.py categorical_drift) - r10, tail-born
    (window full), pinned for the r11 rotation."""
    a, b = _drift_snapshots(spark, sf_dir)
    return DR.categorical_drift(a, b, value_col="lang")


_ORACLE_CORPUS_DRIFT = """
WITH t AS (
  SELECT CASE WHEN n_chars IS NULL THEN 5
              WHEN n_chars < 150 THEN 0
              WHEN n_chars < 250 THEN 1
              WHEN n_chars < 350 THEN 2
              WHEN n_chars < 450 THEN 3
              ELSE 4 END AS ord,
         CASE WHEN n_chars IS NULL THEN '(null)'
              WHEN n_chars < 150 THEN '(-inf, 150)'
              WHEN n_chars < 250 THEN '[150, 250)'
              WHEN n_chars < 350 THEN '[250, 350)'
              WHEN n_chars < 450 THEN '[350, 450)'
              ELSE '[450, inf)' END AS bucket,
         (doc_id % 2) AS side
  FROM documents
), c AS (
  SELECT bucket,
         CAST(count(*) FILTER (side = 0) AS BIGINT) AS n_a,
         CAST(count(*) FILTER (side = 1) AS BIGINT) AS n_b
  FROM t GROUP BY bucket
), w AS (
  SELECT bucket, n_a, n_b,
         greatest(n_a / CAST(sum(n_a) OVER () AS DOUBLE), 1e-6) AS fa,
         greatest(n_b / CAST(sum(n_b) OVER () AS DOUBLE), 1e-6) AS fb
  FROM c
)
SELECT bucket, n_a, n_b,
       round(fa, 6) AS frac_a, round(fb, 6) AS frac_b,
       round((fa - fb) * ln(fa / fb), 6) AS psi
FROM w
"""

_ORACLE_CORPUS_DRIFT_LANG = """
WITH c AS (
  SELECT coalesce(lang, '(null)') AS bucket,
         CAST(count(*) FILTER (doc_id % 2 = 0) AS BIGINT) AS n_a,
         CAST(count(*) FILTER (doc_id % 2 = 1) AS BIGINT) AS n_b
  FROM documents GROUP BY 1
), w AS (
  SELECT bucket, n_a, n_b,
         greatest(n_a / CAST(sum(n_a) OVER () AS DOUBLE), 1e-6) AS fa,
         greatest(n_b / CAST(sum(n_b) OVER () AS DOUBLE), 1e-6) AS fb
  FROM c
)
SELECT bucket, n_a, n_b,
       round(fa, 6) AS frac_a, round(fb, 6) AS frac_b,
       round((fa - fb) * ln(fa / fb), 6) AS psi
FROM w
"""


def _q_lm_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc LM log-perplexity, the CCNet quality signal (operators/lm.py
    perplexity, Wenzek et al. 2020 §3.3): per-language interpolated bigram
    LM self-trained on the corpus, whitespace tokens. Zero-shuffle
    array-side bigram construction; training is two map-side-partial
    aggregations (vocab-bounded wire); scoring is exactly two
    AQE-splittable token-volume equi-joins + a |langs|-row broadcast —
    no window ever holds a data-dependent partition. r11, tail-born
    (window full and stamped), pinned for the r12 rotation."""
    return LM.perplexity(_t(spark, sf_dir, "documents"))


def _q_lm_ppl_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet head/middle/tail split per language (operators/lm.py
    perplexity_buckets): bucket the ROUNDED logppl at fixed cuts (3.3,
    3.4 — tercile-ish for this corpus's 3.10–3.61 range; fixed cuts, not
    quantiles, keep the operator engine-deterministic), count and share
    within language. r11, tail-born, pinned for the r12 rotation."""
    return LM.perplexity_buckets(
        _t(spark, sf_dir, "documents"), buckets=(3.3, 3.4)
    )


# the LM tables (unigram / bigram+ctx / totals) and the scored-token
# probability CASE mirror operators/lm.py term for term; 0.7 / (1.0 - 0.7)
# are spelled so both engines derive 1-λ with the same double arithmetic
_ORACLE_LM_BASE = r"""
WITH tok AS (
  SELECT doc_id, lang,
    list_filter(regexp_split_to_array(lower(text), '\s+'), t -> t <> '') AS toks
  FROM documents WHERE text IS NOT NULL AND lang IS NOT NULL
), tok1 AS (
  SELECT * FROM tok WHERE len(toks) > 0
), c_uni AS (
  SELECT lang, cur, count(*) AS c_uni
  FROM (SELECT lang, unnest(toks) AS cur FROM tok1) GROUP BY 1, 2
), totals AS (
  SELECT lang, sum(c_uni) AS n_train_tokens, count(*) AS vocab FROM c_uni GROUP BY 1
), c_bi AS (
  SELECT lang, pr[1] AS prev, pr[2] AS cur, count(*) AS c_bi
  FROM (SELECT lang, unnest(list_zip(toks[:len(toks)-1], toks[2:])) AS pr FROM tok1)
  GROUP BY 1, 2, 3
), b AS (
  SELECT c_bi.lang, c_bi.prev, c_bi.cur, c_bi.c_bi, ctx.c_ctx
  FROM c_bi JOIN (SELECT lang, prev, sum(c_bi) AS c_ctx FROM c_bi GROUP BY 1, 2) ctx
  USING (lang, prev)
), sp AS (
  SELECT s.doc_id, s.lang,
    CASE WHEN s.pr[1] IS NULL
         THEN (coalesce(u.c_uni, 0) + 1) / (t.n_train_tokens + t.vocab + 1)
         ELSE 0.7 * (CASE WHEN b.c_bi IS NOT NULL THEN b.c_bi / b.c_ctx ELSE 0.0 END)
              + (1.0 - 0.7) * ((coalesce(u.c_uni, 0) + 1) / (t.n_train_tokens + t.vocab + 1))
    END AS p
  FROM (SELECT doc_id, lang,
          unnest(list_zip(list_prepend(NULL, toks[:len(toks)-1]), toks)) AS pr
        FROM tok1) s
  LEFT JOIN c_uni u ON u.lang = s.lang AND u.cur = s.pr[2]
  LEFT JOIN b ON b.lang = s.lang AND b.prev = s.pr[1] AND b.cur = s.pr[2]
  JOIN totals t ON t.lang = s.lang
), ppl AS (
  SELECT doc_id, lang, CAST(count(*) AS BIGINT) AS n_tokens,
         round(-avg(ln(p)), 6) AS logppl
  FROM sp GROUP BY 1, 2
)
"""

_ORACLE_LM_PERPLEXITY = (
    _ORACLE_LM_BASE + "SELECT doc_id, lang, n_tokens, logppl FROM ppl"
)

_ORACLE_LM_PPL_BUCKETS = (
    _ORACLE_LM_BASE
    + """, bk AS (
  SELECT lang,
         CASE WHEN logppl <= 3.3 THEN 'head'
              WHEN logppl <= 3.4 THEN 'middle'
              ELSE 'tail' END AS ppl_bucket,
         CAST(count(*) AS BIGINT) AS n_docs
  FROM ppl GROUP BY 1, 2
)
SELECT lang, ppl_bucket, n_docs,
       round(n_docs / CAST(sum(n_docs) OVER (PARTITION BY lang) AS DOUBLE), 6) AS share
FROM bk
"""
)


def _q_quality_admit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composed quality admission front door (streaming/ingest.py:
    quality_admit_verdicts — the per-micro-batch body of
    quality_admit_stream, graded here as its batch twin; r12, VERDICT r11
    next-round #7): quality gate → self-trained per-language LM perplexity
    filter (cutoff 3.5 — inside the corpus's 3.10–3.61 logppl range, so
    both LM verdicts fire) → exact+near dedup screen against the corpus.
    The arrival batch is the dedup_incremental mix (verbatim copies %83,
    word-reversed %89, first-word-dropped %97) carrying base language
    tags. First failing tier wins: gate_rejected / lm_unscored /
    lm_rejected / exact_dup / near_dup / admitted."""
    docs = _t(spark, sf_dir, "documents")
    dup = docs.where(F.col("doc_id") % 83 == 0).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"), "text", "lang"
    )
    rev = docs.where(F.col("doc_id") % 89 == 0).select(
        (F.col("doc_id") + 2_000_000).alias("doc_id"),
        F.array_join(F.reverse(F.split(F.trim(F.col("text")), r"\s+")), " ").alias("text"),
        "lang",
    )
    mut = docs.where(F.col("doc_id") % 97 == 0).select(
        (F.col("doc_id") + 3_000_000).alias("doc_id"),
        F.expr(
            "array_join(slice(split(trim(text), '\\\\s+'), 2, "
            "size(split(trim(text), '\\\\s+'))), ' ')"
        ).alias("text"),
        "lang",
    )
    batch = dup.unionAll(rev).unionAll(mut)
    lm = LM.train_bigram_lm(docs)
    return ING.quality_admit_verdicts(
        batch, lm, corpus=docs, ppl_cutoff=3.5, threshold=0.5
    )


def _q_dedup_apply_fused(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fused corpus dedup (clustering.py:dedup_corpus_minhash, r12): the
    keep set of dedup_corpus(docs, minhash_lsh_pairs(docs)) computed
    WITHOUT materializing the expanded pair graph — label propagation runs
    on the rep-grain skeleton and the keep set expands by the min-id
    argument (see the operator docstring). Same oracle as
    dedup_apply_clusters: the outputs are provably equal, so the two
    queries pin plan-level divergence against one SQL truth. Tail-born in
    r12 (window full and stamped); pinned for the r13 rotation."""
    docs = _t(spark, sf_dir, "documents")
    kept = CL.dedup_corpus_minhash(docs, threshold=0.5)
    return kept.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_kept"),
        F.sum("n_chars").cast("bigint").alias("kept_chars"),
    )


def _mk_oracle_quality_admit(cut: float = 3.5) -> str:
    """Composes the verdict ladder from the proven oracle pieces: the gate
    bodies re-pointed at the batch (bdocs), the LM-base train CTEs scored
    against the batch tokens, and the incremental screen's exact/band/
    digest-verify sections. The screen runs over ALL batch docs and the
    CASE masks — per-doc independence (no occupancy cap in this query)
    makes that byte-equal to screening the LM survivors only, mirroring
    the engine's semi-join shape."""
    gate_cases = ", ".join(
        f"CASE WHEN {cond} THEN '{name}' END" for name, cond in _GATE_RULES
    )
    rep_b = _ORACLE_REPETITION.replace("FROM documents", "FROM bdocs")
    qual_b = _ORACLE_QUALITY.replace("FROM documents", "FROM bdocs")
    lang_b = _ORACLE_LANG_ID.replace("FROM documents", "FROM bdocs")
    return f"""
WITH batch AS (
  SELECT doc_id + 1000000 AS bid, text, lang FROM documents WHERE doc_id % 83 = 0
  UNION ALL
  SELECT doc_id + 2000000 AS bid,
         array_to_string(list_reverse(regexp_split_to_array(trim(text), '\\s+')), ' ') AS text,
         lang
  FROM documents WHERE doc_id % 89 = 0
  UNION ALL
  SELECT doc_id + 3000000 AS bid,
         array_to_string(
           regexp_split_to_array(trim(text), '\\s+')[2:length(regexp_split_to_array(trim(text), '\\s+'))],
           ' ') AS text,
         lang
  FROM documents WHERE doc_id % 97 = 0
),
bdocs AS (SELECT bid AS doc_id, text FROM batch),
grep_ AS (SELECT * FROM ({rep_b})),
gqual AS (SELECT * FROM ({qual_b})),
glang AS (SELECT * FROM ({lang_b})),
gj AS (
  SELECT r.doc_id, r.n_words, r.dup_word_frac, r.top_bigram_char_frac,
         q.quality_score, l.predicted_lang
  FROM grep_ r JOIN gqual q USING (doc_id) JOIN glang l USING (doc_id)
),
gate AS (SELECT doc_id AS bid, concat_ws(',', {gate_cases}) AS reasons FROM gj),
tok AS (
  SELECT doc_id, lang,
    list_filter(regexp_split_to_array(lower(text), '\\s+'), t -> t <> '') AS toks
  FROM documents WHERE text IS NOT NULL AND lang IS NOT NULL
), tok1 AS (
  SELECT * FROM tok WHERE len(toks) > 0
), c_uni AS (
  SELECT lang, cur, count(*) AS c_uni
  FROM (SELECT lang, unnest(toks) AS cur FROM tok1) GROUP BY 1, 2
), totals AS (
  SELECT lang, sum(c_uni) AS n_train_tokens, count(*) AS vocab FROM c_uni GROUP BY 1
), c_bi AS (
  SELECT lang, pr[1] AS prev, pr[2] AS cur, count(*) AS c_bi
  FROM (SELECT lang, unnest(list_zip(toks[:len(toks)-1], toks[2:])) AS pr FROM tok1)
  GROUP BY 1, 2, 3
), bgm AS (
  SELECT c_bi.lang, c_bi.prev, c_bi.cur, c_bi.c_bi, ctx.c_ctx
  FROM c_bi JOIN (SELECT lang, prev, sum(c_bi) AS c_ctx FROM c_bi GROUP BY 1, 2) ctx
  USING (lang, prev)
), btok AS (
  SELECT bid, lang,
    list_filter(regexp_split_to_array(lower(text), '\\s+'), t -> t <> '') AS toks
  FROM batch WHERE text IS NOT NULL AND lang IS NOT NULL
), btok1 AS (
  SELECT * FROM btok WHERE len(toks) > 0
), bsp AS (
  SELECT s.bid, s.lang,
    CASE WHEN s.pr[1] IS NULL
         THEN (coalesce(u.c_uni, 0) + 1) / (t.n_train_tokens + t.vocab + 1)
         ELSE 0.7 * (CASE WHEN bg.c_bi IS NOT NULL THEN bg.c_bi / bg.c_ctx ELSE 0.0 END)
              + (1.0 - 0.7) * ((coalesce(u.c_uni, 0) + 1) / (t.n_train_tokens + t.vocab + 1))
    END AS p
  FROM (SELECT bid, lang,
          unnest(list_zip(list_prepend(NULL, toks[:len(toks)-1]), toks)) AS pr
        FROM btok1) s
  LEFT JOIN c_uni u ON u.lang = s.lang AND u.cur = s.pr[2]
  LEFT JOIN bgm bg ON bg.lang = s.lang AND bg.prev = s.pr[1] AND bg.cur = s.pr[2]
  JOIN totals t ON t.lang = s.lang
), bppl AS (
  SELECT bid, round(-avg(ln(p)), 6) AS logppl FROM bsp GROUP BY 1
),
exact AS (
  SELECT b.bid, min(c.doc_id) AS exact_match
  FROM batch b JOIN documents c ON md5(c.text) = md5(b.text)
  GROUP BY b.bid
),
{{_SHINGLES}},
bw AS (SELECT bid, regexp_split_to_array(trim(text), '\\s+') AS w FROM batch),
bsh AS (
  SELECT bid,
    CASE WHEN length(w) < 3 THEN [array_to_string(w, ' ')]
         ELSE list_distinct(list_transform(generate_series(1, length(w) - 2),
                i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))
    END AS shingles
  FROM bw),
cex AS (SELECT id, unnest(shingles) AS s FROM sh),
chashed AS (
  SELECT id, g.i,
         min(('0x' || substr(md5(g.i::VARCHAR || ':' || s), 1, 15))::BIGINT) AS mh
  FROM cex CROSS JOIN (SELECT unnest(generate_series(0, 15)) AS i) g
  GROUP BY id, g.i
),
cbands AS (
  SELECT id, i // 2 AS band, string_agg(mh::VARCHAR, '-' ORDER BY i) AS band_key
  FROM chashed GROUP BY id, i // 2
),
bex AS (SELECT bid, unnest(shingles) AS s FROM bsh),
bhashed AS (
  SELECT bid, g.i,
         min(('0x' || substr(md5(g.i::VARCHAR || ':' || s), 1, 15))::BIGINT) AS mh
  FROM bex CROSS JOIN (SELECT unnest(generate_series(0, 15)) AS i) g
  GROUP BY bid, g.i
),
bbands AS (
  SELECT bid, i // 2 AS band, string_agg(mh::VARCHAR, '-' ORDER BY i) AS band_key
  FROM bhashed GROUP BY bid, i // 2
),
cand AS (
  SELECT DISTINCT b.bid, c.id AS cid
  FROM bbands b JOIN cbands c USING (band, band_key)
),
cshd AS (
  SELECT id, list_distinct(list_transform(shingles,
           s -> ('0x' || substr(md5(s), 1, 15))::BIGINT)) AS dg
  FROM sh),
bshd AS (
  SELECT bid, list_distinct(list_transform(shingles,
           s -> ('0x' || substr(md5(s), 1, 15))::BIGINT)) AS dg
  FROM bsh),
ver AS (
  SELECT bid, cid,
    round(length(list_intersect(sb.dg, sc.dg))::DOUBLE /
      (length(sb.dg) + length(sc.dg) - length(list_intersect(sb.dg, sc.dg))), 6) AS jaccard
  FROM cand JOIN bshd sb USING (bid) JOIN cshd sc ON sc.id = cand.cid
  WHERE round(length(list_intersect(sb.dg, sc.dg))::DOUBLE /
      (length(sb.dg) + length(sc.dg) - length(list_intersect(sb.dg, sc.dg))), 6) >= 0.5
),
near AS (
  SELECT bid, jaccard AS near_jaccard, cid AS near_match FROM (
    SELECT bid, cid, jaccard,
           row_number() OVER (PARTITION BY bid ORDER BY jaccard DESC, cid ASC) AS rn
    FROM ver
  ) WHERE rn = 1
),
verdicts AS (
  SELECT b.bid AS doc_id,
    CASE WHEN g.reasons <> '' THEN 'gate_rejected'
         WHEN p.logppl IS NULL THEN 'lm_unscored'
         WHEN p.logppl > {cut} THEN 'lm_rejected'
         WHEN e.exact_match IS NOT NULL THEN 'exact_dup'
         WHEN n.near_match IS NOT NULL THEN 'near_dup'
         ELSE 'admitted' END AS verdict,
    g.reasons,
    -- the engine scores GATE-PASSERS only (semi-join before perplexity),
    -- so a gate-rejected doc's logppl is NULL by construction there
    CASE WHEN g.reasons = '' THEN p.logppl END AS logppl,
    e.exact_match, n.near_match, n.near_jaccard
  FROM batch b
  JOIN gate g ON g.bid = b.bid
  LEFT JOIN bppl p ON p.bid = b.bid
  LEFT JOIN exact e ON e.bid = b.bid
  LEFT JOIN near n ON n.bid = b.bid
)
SELECT doc_id, verdict, reasons, logppl,
  CASE WHEN verdict IN ('exact_dup', 'near_dup')
       THEN coalesce(exact_match, near_match) END AS match_id,
  CASE WHEN verdict = 'exact_dup' THEN CAST(1.0 AS DOUBLE)
       WHEN verdict = 'near_dup' THEN near_jaccard END AS jaccard
FROM verdicts
""".replace("{_SHINGLES}", _SHINGLES_CTE.strip())


_ORACLE_QUALITY_ADMIT = _mk_oracle_quality_admit()


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Ordering contract: the driver grades dict entries in order (it stops
    after 50), so the graded window rotates per round until every oracled
    query has a green CORRECTNESS row in some round. (Rotation history
    through r13 is in the git log of this docstring; the evidence ledger
    `EVIDENCE.json` + tools/evidence.py carry the machine-checked state.)

    Round-16 window (this file): every query whose operator files the r16
    OPTIMIZATION commits touch is a hard evidence-ledger constraint —
    similarity.py (bytes-sized index writes), bm25_index.py (staleness
    snapshot + per-term df sidecar + load memo), dedup.py (corpus-tier
    checkpoint in dedup_incremental, sized index writes), pipeline.py
    (plane-sizing count reuse), sources/embedders.py + multimodal.py
    (bytes-sized light-Arrow fan-out). That stales the ann/dedup/bm25
    cohort already in the r15 window plus 15 out-of-window rows
    (chunk_documents..multimodal_features below). memory_access_replay
    re-enters for a fresh grade because its ENTRY query was restructured
    (per-key input pruning; output-identical, oracle re-proves it). The
    remaining slots take the promised advisory refresh oldest-first: the
    r11 tail-3 (repetition_stats, search_by_metadata, token_stats) and two
    r12 rows (corpus_summary, events_anomaly). Rotated out to the tail: 15
    r15-graded rows whose files r16 does not touch (corpus_drift..
    quality_score), the 4 txn rows and the 2 LM rows (state/txn.py and
    lm.py are r16-untouched; their r15 grades stand in the ledger).

    Expiry/admission simplification (after r16): streaming/expiry.py lost
    its parquet sweep and state/txn.py's drain_events gained the
    filesystem check, which stales doc_change_feed (expiry.py) and the
    four txn rows (memory_upsert_txn/mor/ckpt, memory_snapshot_read). They
    take the five advisory-refresh slots; repetition_stats,
    search_by_metadata, token_stats, corpus_summary and events_anomaly
    rotate to the tail with their r16 grades standing (files untouched).

    Exact search as one SQL statement (round 17): operators/rag.py and
    functions/vector.py change, which stales the nine RAG rows in the tail
    (rag_search, rag_search_filtered, find_similar, batch_topk,
    pairwise_similarity, knn_classify, hybrid_search, assemble_context and
    max_score, whose score_against call now counts as RAG evidence). They
    take the slots of nine pipeline.py rows (chunk_documents ..
    pack_sequences), which rotate to the tail with their r16 grades
    standing (pipeline.py and text.py untouched).

    One persistence protocol for the persisted indexes (round 17):
    operators/lm.py changes (lm_write/lm_load go through
    state/manifest.py), which stales lm_perplexity and lm_ppl_buckets in
    the tail; every other query on the four index files (similarity.py,
    bm25_index.py, dedup.py, lm.py) is already in the window. They take
    the slots of frame_sample and token_budget_select, which rotate to the
    tail with their r16 grades standing (multimodal.py, pipeline.py,
    text.py and text_analysis.py untouched).
    """
    return {
        # --- graded window (50): see docstring for the rotation logic
        "ann_brp_append": _q_ann_brp_append,
        "ann_lsh_topk": _q_ann_lsh_topk,
        "ann_mllib_lsh": _q_ann_mllib_lsh,
        "ann_ivf_topk": _q_ann_ivf_topk,
        "ann_ivf_append": _q_ann_ivf_append,
        "ann_quantized_topk": _q_ann_quantized_topk,
        "ann_ivf_sq8_topk": _q_ann_ivf_sq8_topk,
        "dedup_semantic": _q_dedup_semantic,
        "dedup_embedding": _q_dedup_embedding,
        "dedup_embedding_lsh": _q_dedup_embedding_lsh,
        "decontaminate_semantic": _q_decontaminate_semantic,
        "bm25_search_indexed": _q_bm25_search_indexed,
        "bm25_index_append": _q_bm25_index_append,
        "dedup_incremental": _q_dedup_incremental,
        "quality_admit": _q_quality_admit,
        "corpus_prep_pipeline": _q_corpus_prep_pipeline,
        "dedup_exact": _q_dedup_exact,
        "dedup_keep_first": _q_dedup_keep_first,
        "dedup_minhash": _q_dedup_minhash,
        "dedup_ngram_jaccard": _q_dedup_ngram_jaccard,
        "dedup_simhash": _q_dedup_simhash,
        "dedup_simhash_capped": _q_dedup_simhash_capped,
        "dedup_substring": _q_dedup_substring,
        "dedup_substring_apply": _q_dedup_substring_apply,
        "dedup_rate_by_source": _q_dedup_rate_by_source,
        "dedup_clusters": _q_dedup_clusters,
        "dedup_clusters_twostar": _q_dedup_clusters_twostar,
        "dedup_apply_clusters": _q_dedup_apply_clusters,
        "dedup_apply_fused": _q_dedup_apply_fused,
        "rag_search": _q_rag_search,
        "rag_search_filtered": _q_rag_search_filtered,
        "find_similar": _q_find_similar,
        "embed_texts": _q_embed_texts,
        "lm_perplexity": _q_lm_perplexity,
        "doc_add": _q_doc_add,
        "doc_update": _q_doc_update,
        "batch_topk": _q_batch_topk,
        "pairwise_similarity": _q_pairwise_similarity,
        "knn_classify": _q_knn_classify,
        "hybrid_search": _q_hybrid_search,
        "assemble_context": _q_assemble_context,
        "max_score": _q_max_score,
        "lm_ppl_buckets": _q_lm_ppl_buckets,
        "multimodal_features": _q_multimodal_features,
        "memory_access_replay": _q_memory_access_replay,
        "doc_change_feed": _q_doc_change_feed,
        "memory_upsert_txn": _q_memory_upsert_txn,
        "memory_upsert_mor": _q_memory_upsert_mor,
        "memory_upsert_ckpt": _q_memory_upsert_ckpt,
        "memory_snapshot_read": _q_memory_snapshot_read,
        # ---- entry 50 ends here ------------------------------------------
        # tail: every entry below is green in a prior CORRECTNESS_r* with
        # operator files unchanged since (EVIDENCE.json + tools/evidence.py
        # enforce it).
        "chunk_documents": _q_chunk_documents,
        "decontaminate": _q_decontaminate,
        "dedup_within_doc": _q_dedup_within_doc,
        "train_test_split": _q_train_test_split,
        "pii_redact": _q_pii_redact,
        "stratified_sample": _q_stratified_sample,
        "source_cap": _q_source_cap,
        "source_mix": _q_source_mix,
        "pack_sequences": _q_pack_sequences,
        "repetition_stats": _q_repetition_stats,
        "search_by_metadata": _q_search_by_metadata,
        "token_stats": _q_token_stats,
        "corpus_summary": _q_corpus_summary,
        "events_anomaly": _q_events_anomaly,
        "corpus_drift": _q_corpus_drift,
        "corpus_drift_lang": _q_corpus_drift_lang,
        "doc_summary": _q_doc_summary,
        "events_json": _q_events_json,
        "fingerprint": _q_fingerprint,
        "lang_distribution": _q_lang_distribution,
        "lang_id": _q_lang_id,
        "memory_report": _q_memory_report,
        "orders_page": _q_orders_page,
        "props_keys": _q_props_keys,
        "quality_gate": _q_quality_gate,
        "quality_score": _q_quality_score,
        "frame_sample": _q_frame_sample,
        "token_budget_select": _q_token_budget_select,
        "events_asof_join": _q_events_asof_join,
        "events_funnel": _q_events_funnel,
        "events_hourly": _q_events_hourly,
        "events_range_join": _q_events_range_join,
        "events_sessions": _q_events_sessions,
        "events_sliding": _q_events_sliding,
        "parse_ttl": _q_parse_ttl,
        "time_until_expiry": _q_time_until_expiry,
        "filter_tags_created": _q_filter_tags_created,
        "memory_list": _q_memory_list,
        "memory_list_expired": _q_memory_list_expired,
        "memory_list_by_keys": _q_memory_list_by_keys,
        "memory_stats": _q_memory_stats,
        "memory_stats_by_type": _q_memory_stats_by_type,
        "cleanup_expired_count": _q_cleanup_expired_count,
        "memories_live_count": _q_memories_live_count,
        "memory_upsert": _q_memory_upsert,
        "memory_touch": _q_memory_touch,
        "memory_delete": _q_memory_delete,
        "memory_exists": _q_memory_exists,
        "memory_update": _q_memory_update,
        "embedding_screen": _q_embedding_screen,
        "dims_profile": _q_dims_profile,
        "text_screen": _q_text_screen,
        "events_retention": _q_events_retention,
        "events_retention_weekly": _q_events_retention_weekly,
        "events_active_users": _q_events_active_users,
        "bm25_search": _q_bm25_search,
        "events_conversion_lag": _q_events_conversion_lag,
        "tpch_q1": _q_tpch_q1,
        "tpch_q3": _q_tpch_q3,
        "tpch_q5": _q_tpch_q5,
        "tpch_q6": _q_tpch_q6,
        "top_orders_per_customer": _q_top_orders_per_customer,
        "orders_semi_join": _q_orders_semi_join,
        "customers_anti_join": _q_customers_anti_join,
        "orders_rollup": _q_orders_rollup,
        "doc_get": _q_doc_get,
        "doc_delete": _q_doc_delete,
        "doc_stats": _q_doc_stats,
        "dedup_editdist": _q_dedup_editdist,
        "dedup_editdist_segment": _q_dedup_editdist_segment,
        "tfidf_terms": _q_tfidf_terms,
        "source_overlap": _q_source_overlap,
        "ts_parse_multi": _q_ts_parse_multi,
        "sanitize": _q_sanitize,
    }

def oracle_sql() -> dict[str, str]:
    return {
        "rag_search": _ORACLE_RAG_SEARCH,
        "rag_search_filtered": _ORACLE_RAG_SEARCH_FILTERED,
        "find_similar": _ORACLE_FIND_SIMILAR,
        "pairwise_similarity": _ORACLE_PAIRWISE,
        "batch_topk": _ORACLE_BATCH_TOPK,
        "knn_classify": _ORACLE_KNN,
        "memory_list": _ORACLE_MEMORY_LIST,
        "memory_list_expired": _ORACLE_MEMORY_LIST_EXPIRED,
        "memory_list_by_keys": _ORACLE_MEMORY_LIST_BY_KEYS,
        "ann_lsh_topk": _ORACLE_ANN_LSH,
        **({"ann_ivf_topk": _ORACLE_ANN_IVF} if _ORACLE_ANN_IVF else {}),
        **({"ann_ivf_append": _ORACLE_ANN_IVF_APPEND} if _ORACLE_ANN_IVF_APPEND else {}),
        "ann_quantized_topk": _ORACLE_ANN_QUANTIZED,
        **({"ann_ivf_sq8_topk": _ORACLE_ANN_IVF_SQ8} if _ORACLE_ANN_IVF_SQ8 else {}),
        "memory_stats": _ORACLE_MEMORY_STATS,
        "memory_stats_by_type": _ORACLE_MEMORY_STATS_BY_TYPE,
        "cleanup_expired_count": _ORACLE_CLEANUP_EXPIRED,
        "memories_live_count": _ORACLE_MEMORIES_LIVE,
        "parse_ttl": _ORACLE_PARSE_TTL,
        "memory_upsert": _ORACLE_MEMORY_UPSERT,
        # the ACID write path must reproduce the pure transform exactly
        "memory_upsert_txn": _ORACLE_MEMORY_UPSERT,
        "memory_upsert_mor": _ORACLE_MEMORY_UPSERT_MOR,
        # ...and so must the checkpoint/compaction/clean lifecycle (r8)
        "memory_upsert_ckpt": _ORACLE_MEMORY_UPSERT,
        # time travel: a v0 reader sees the pre-upsert state, exactly
        "memory_snapshot_read": _ORACLE_MEMORY_SNAPSHOT,
        "memory_touch": _ORACLE_MEMORY_TOUCH,
        "memory_delete": _ORACLE_MEMORY_DELETE,
        "memory_exists": _ORACLE_MEMORY_EXISTS,
        "memory_update": _ORACLE_MEMORY_UPDATE,
        "memory_report": _ORACLE_MEMORY_REPORT,
        "memory_access_replay": _ORACLE_MEMORY_ACCESS_REPLAY,
        "doc_add": _ORACLE_DOC_ADD,
        "doc_get": _ORACLE_DOC_GET,
        "doc_update": _ORACLE_DOC_UPDATE,
        "doc_delete": _ORACLE_DOC_DELETE,
        "doc_change_feed": _ORACLE_DOC_CHANGE_FEED,
        "embed_texts": _ORACLE_EMBED_TEXTS,
        "frame_sample": _ORACLE_FRAME_SAMPLE,
        "doc_stats": _ORACLE_DOC_STATS,
        "tpch_q1": _ORACLE_TPCH_Q1,
        "tpch_q3": _ORACLE_TPCH_Q3,
        "tpch_q5": _ORACLE_TPCH_Q5,
        "tpch_q6": _ORACLE_TPCH_Q6,
        "top_orders_per_customer": _ORACLE_TOP_ORDERS,
        "orders_semi_join": _ORACLE_ORDERS_SEMI,
        "customers_anti_join": _ORACLE_CUSTOMERS_ANTI,
        "orders_rollup": _ORACLE_ORDERS_ROLLUP,
        "orders_page": _ORACLE_ORDERS_PAGE,
        "props_keys": _ORACLE_PROPS_KEYS,
        "events_hourly": _ORACLE_EVENTS_HOURLY,
        "events_json": _ORACLE_EVENTS_JSON,
        "events_sliding": _ORACLE_EVENTS_SLIDING,
        "events_sessions": _ORACLE_EVENTS_SESSIONS,
        "token_stats": _ORACLE_TOKEN_STATS,
        "quality_score": _ORACLE_QUALITY,
        "lang_id": _ORACLE_LANG_ID,
        "fingerprint": _ORACLE_FINGERPRINT,
        "lang_distribution": _ORACLE_LANG_DIST,
        "sanitize": _ORACLE_SANITIZE,
        "doc_summary": _ORACLE_DOC_SUMMARY,
        "search_by_metadata": _ORACLE_SEARCH_BY_METADATA,
        "bm25_search": _ORACLE_BM25,
        # the persisted-index probe must reproduce the per-query form exactly
        "bm25_search_indexed": _ORACLE_BM25,
        "hybrid_search": _ORACLE_HYBRID,
        "chunk_documents": _ORACLE_CHUNK_DOCUMENTS,
        "assemble_context": _ORACLE_ASSEMBLE_CONTEXT,
        "dedup_exact": _ORACLE_DEDUP_EXACT,
        "dedup_keep_first": _ORACLE_DEDUP_KEEP_FIRST,
        "dedup_minhash": _ORACLE_DEDUP_MINHASH,
        "dedup_ngram_jaccard": _ORACLE_DEDUP_NGRAM,
        "dedup_incremental": _ORACLE_DEDUP_INCREMENTAL,
        "dedup_simhash": _ORACLE_DEDUP_SIMHASH,
        "dedup_simhash_capped": _ORACLE_DEDUP_SIMHASH_CAPPED,
        "dedup_embedding": _ORACLE_DEDUP_EMBEDDING,
        "dedup_embedding_lsh": _ORACLE_DEDUP_EMBEDDING_LSH,
        "filter_tags_created": _ORACLE_FILTER_TAGS_CREATED,
        "time_until_expiry": _ORACLE_TIME_UNTIL_EXPIRY,
        "ts_parse_multi": _ORACLE_TS_PARSE_MULTI,
        **({"ann_mllib_lsh": _ORACLE_ANN_MLLIB_LSH} if _ORACLE_ANN_MLLIB_LSH else {}),
        **({"ann_brp_append": _ORACLE_ANN_BRP_APPEND} if _ORACLE_ANN_BRP_APPEND else {}),
        # appended index probes byte-identical to a full rebuild over
        # base ∪ batch = the full documents table → same SQL as bm25_search
        "bm25_index_append": _ORACLE_BM25,
        "multimodal_features": _ORACLE_MULTIMODAL_FEATURES,
        "max_score": _ORACLE_MAX_SCORE,
        "dedup_clusters": _ORACLE_DEDUP_CLUSTERS,
        # component labels are algorithm-independent; the twostar variant
        # must reproduce the same transitive-closure min labels
        "dedup_clusters_twostar": _ORACLE_DEDUP_CLUSTERS,
        "dedup_apply_clusters": _ORACLE_DEDUP_APPLY_CLUSTERS,
        "decontaminate": _ORACLE_DECONTAMINATE,
        "train_test_split": _ORACLE_TRAIN_TEST_SPLIT,
        "pii_redact": _ORACLE_PII_REDACT,
        "stratified_sample": _ORACLE_STRATIFIED_SAMPLE,
        "dedup_within_doc": _ORACLE_DEDUP_WITHIN_DOC,
        "corpus_prep_pipeline": _ORACLE_CORPUS_PREP,
        "source_cap": _ORACLE_SOURCE_CAP,
        "source_mix": _ORACLE_SOURCE_MIX,
        "repetition_stats": _ORACLE_REPETITION,
        "dedup_substring": _ORACLE_DEDUP_SUBSTRING,
        **({"dedup_semantic": _ORACLE_DEDUP_SEMANTIC} if _ORACLE_DEDUP_SEMANTIC else {}),
        "decontaminate_semantic": _ORACLE_DECONTAMINATE_SEMANTIC,
        "pack_sequences": _ORACLE_PACK_SEQUENCES,
        "token_budget_select": _ORACLE_TOKEN_BUDGET,
        "dedup_substring_apply": _ORACLE_DEDUP_SUBSTRING_APPLY,
        "quality_gate": _mk_oracle_quality_gate(),
        "events_asof_join": _ORACLE_EVENTS_ASOF,
        "events_range_join": _ORACLE_EVENTS_RANGE,
        "corpus_summary": _ORACLE_CORPUS_SUMMARY,
        "dedup_editdist": _ORACLE_DEDUP_EDITDIST,
        "dedup_editdist_segment": _ORACLE_DEDUP_EDITDIST,
        "events_funnel": _ORACLE_EVENTS_FUNNEL,
        "events_retention": _ORACLE_EVENTS_RETENTION,
        "events_active_users": _ORACLE_EVENTS_ACTIVE_USERS,
        "tfidf_terms": _ORACLE_TFIDF_TERMS,
        "source_overlap": _ORACLE_SOURCE_OVERLAP,
        "events_anomaly": _ORACLE_EVENTS_ANOMALY,
        "embedding_screen": _ORACLE_EMBEDDING_SCREEN,
        "dims_profile": _ORACLE_DIMS_PROFILE,
        "dedup_rate_by_source": _ORACLE_DEDUP_RATE,
        "events_retention_weekly": _ORACLE_EVENTS_RETENTION_WEEKLY,
        "events_conversion_lag": _ORACLE_EVENTS_CONVERSION_LAG,
        "text_screen": _ORACLE_TEXT_SCREEN,
        "corpus_drift": _ORACLE_CORPUS_DRIFT,
        "corpus_drift_lang": _ORACLE_CORPUS_DRIFT_LANG,
        "lm_perplexity": _ORACLE_LM_PERPLEXITY,
        "lm_ppl_buckets": _ORACLE_LM_PPL_BUCKETS,
        "quality_admit": _ORACLE_QUALITY_ADMIT,
        "dedup_apply_fused": _ORACLE_DEDUP_APPLY_CLUSTERS,
    }
