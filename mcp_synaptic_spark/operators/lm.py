"""Statistical language-model perplexity scoring (beyond-reference tier).

The CCNet recipe (Wenzek et al. 2020, arXiv:1911.00359 §3.3) scores every
crawled document with a per-language n-gram LM and keeps the low-perplexity
"head" — the single most-used model-based quality filter in large-scale
training-data pipelines (CCNet, RedPajama, FineWeb ablations all carry it).
The reference has no model-based quality surface at all (its text tier is
store/embed/search — reference ``mcp_synaptic/rag/``); the engine's
``text_analysis`` tier scores surface heuristics (length / punctuation /
stopwords).  This module adds the statistical tier: a **per-language
interpolated bigram LM trained on the corpus itself** (no external model
artifact — CCNet's KenLM-over-Wikipedia is env-blocked here the same way
sentence-transformers is, so the self-trained LM is the honest in-container
instantiation; the train/score split is a parameter, so a curated reference
corpus drops in unchanged).

Semantics (per language ``g`` of the TRAIN corpus):

    c_uni(g, w)   token occurrences of w
    N(g), V(g)    total tokens / distinct tokens
    c_bi(g,p,w)   adjacent-pair occurrences (positions 2..n per doc)
    c_ctx(g,p)    Σ_w c_bi(g,p,w)   (p's occurrences AS a bigram context)

    p_uni(w)      (c_uni + 1) / (N + V + 1)          Laplace, one OOV slot
    p(w | p)      λ·(c_bi/c_ctx) + (1−λ)·p_uni(w)    Jelinek-Mercer
                  (first token of a doc: p_uni alone; unseen context or
                  unseen pair: MLE term is 0)
    logppl(d)     −mean_i ln p(w_i | w_{i−1})        rounded to 6dp

Tokens are whitespace-split on ``lower(text)`` (language-neutral — the
``[^a-z0-9]`` splitter of the TF-IDF tier would erase non-Latin scripts).
Docs with no tokens are excluded; docs with a NULL language tag are excluded
(explicitly, on both train and score sides — ADVICE r11); docs whose language
has no train rows are excluded (inner join on the per-language totals).

Physical shape — designed against the 100 TB questions:

* Tokenization and bigram construction are ARRAY-SIDE codegen projections
  (``transform`` over the token array) — zero shuffles, no Python.
* Training is two map-side-partial aggregations (unigram and bigram grain):
  wire volume is vocab-bounded per upstream partition, never token-bounded;
  the Zipf-hot token costs one row per partition on the wire.  The
  per-language totals (N, V) aggregate the unigram table and broadcast at
  |langs| rows.
* c_ctx attaches to the BIGRAM table by aggregate + equi-join back (bigram-
  vocab-sized input), not a window: a ``Window.partitionBy(lang, prev)``
  would put all continuations of a stop-word context in ONE unsplittable
  task (the r9 tfidf lesson — AQE never splits window partitions), while
  the join is skew-splittable.
* Scoring is exactly TWO token-volume equi-joins — (lang, cur) against the
  unigram table and (lang, prev, cur) against the bigram+ctx table — both
  plain shuffle joins AQE can skew-split, plus the broadcast totals.  The
  unseen-(context, pair) cases come back as left-join NULLs and fold into
  the CASE, so no third join for c_ctx is ever needed: c_ctx only matters
  when the pair itself was seen.
* The per-doc reduce is one aggregation at doc grain.
* The ONE-SHOT self-trained plan scans the (doc_id, lang, text) projection
  three times (bi / ctx share one, scoring, plus the unigram fit — r15
  materializes the vocab-bounded unigram table once with localCheckpoint,
  so the totals aggregation and the scoring join no longer re-run the
  corpus-wide tokenize+aggregate; Spark plans no exchange reuse across
  aggregation grains, the r9 tfidf lesson).  That is the honest cost of a
  single declarative query; the production shape is
  train-once/score-many: persist the three ``train_bigram_lm`` tables
  (``lm_write``, through the index protocol of state/manifest.py) and
  pass them via ``perplexity(..., lm=lm_load(...))`` — scoring then reads
  the corpus exactly ONCE (pinned in tests/test_plan_shapes.py).
* The scoring DAG lifts onto ``readStream`` unchanged (stream-static
  joins + complete-mode aggregation) — the streaming admission scorer is
  the same function, pinned in tests/test_lm.py.

Oracle parity notes: both engines parse ``0.7`` to the same double; ln/avg
agree to well under the 6dp round; counts are exact integers.  Rank-free
output, so no ulp tie-break concerns.  The ``\\s`` separator class is
ASCII-only in BOTH engines (Java regex without UNICODE_CHARACTER_CLASS and
DuckDB's RE2) — a U+00A0 no-break space does NOT split; Python ``re`` would
split it, so naive-checker tests must stick to ASCII whitespace.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..state import manifest as M

#: Jelinek-Mercer interpolation weight on the bigram MLE term.
DEFAULT_LAMBDA = 0.7

#: fixed logppl cut points for the CCNet-style head/middle/tail split —
#: thresholds on the ROUNDED score keep bucket membership identical across
#: engines (both hash-match the rounded per-doc scores first).
DEFAULT_BUCKETS = (3.0, 3.5)


def _tok_arrays(
    docs: DataFrame, *, text_col: str, lang_col: str, extra: tuple[str, ...] = ()
) -> DataFrame:
    """(extra..., lang, toks): whitespace tokens of lower(text), empties
    dropped, token-less and NULL-``lang`` docs removed.  Pure projection,
    zero shuffles.

    NULL-lang rows are excluded EXPLICITLY on both the train and score
    sides (ADVICE r11): the scoring joins are lang-equality joins, so a
    NULL-lang doc could never match the totals table anyway — but without
    this filter the train side still built a useless NULL-lang group in
    the LM tables while the doc silently vanished from scoring. Now the
    exclusion is one declared rule: no language tag ⇒ no LM row, matching
    the documented 'language has no train rows' exclusion."""
    from ..util import ensure_parallelism

    toks = F.filter(
        F.split(F.lower(F.col(text_col)), r"\s+"), lambda t: t != F.lit("")
    )
    # the tokenize/explode map side is CPU-bound; without the fan-out a
    # well-compressed corpus parquet is one input split and the whole
    # training/scoring map stage runs on a single task (the r11
    # mllib_lsh_index_build lesson, PLANS note 104)
    return (
        ensure_parallelism(
            docs.where(F.col(text_col).isNotNull() & F.col(lang_col).isNotNull())
        )
        .select(*extra, F.col(lang_col).alias("lang"), toks.alias("toks"))
        .where(F.size("toks") > 0)
    )


def train_bigram_lm(
    train: DataFrame, *, text_col: str = "text", lang_col: str = "lang"
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Fit the per-language LM tables: (unigram, bigram+ctx, totals).

    unigram:  (lang, cur, c_uni)
    bigram:   (lang, prev, cur, c_bi, c_ctx)   — c_ctx pre-attached
    totals:   (lang, n_train_tokens, vocab)    — |langs| rows, broadcastable
    """
    tok = _tok_arrays(train, text_col=text_col, lang_col=lang_col)
    # localCheckpoint: the unigram table feeds BOTH the scoring join and the
    # per-language totals, and Spark plans no subtree reuse across the two —
    # without the barrier every consumer re-runs the corpus-wide tokenize +
    # aggregate (the module docstring's five-scan count; guide §1.2: remove
    # passes first). The table is vocab-bounded (one row per (lang, token)),
    # never corpus-row-bounded, so the materialization is small at any
    # corpus scale; train is always a static frame (aggregation would be
    # unsupported on a stream anyway).
    uni = (
        tok.select("lang", F.explode("toks").alias("cur"))
        .groupBy("lang", "cur")
        .agg(F.count(F.lit(1)).alias("c_uni"))
    ).localCheckpoint()
    totals = uni.groupBy("lang").agg(
        F.sum("c_uni").alias("n_train_tokens"),
        F.count(F.lit(1)).alias("vocab"),
    )
    pairs = F.expr(
        "transform(slice(toks, 1, size(toks) - 1),"
        " (p, i) -> struct(p AS prev, toks[i + 1] AS cur))"
    )
    bi = (
        tok.select("lang", F.explode(pairs).alias("pr"))
        .select("lang", F.col("pr.prev").alias("prev"), F.col("pr.cur").alias("cur"))
        .groupBy("lang", "prev", "cur")
        .agg(F.count(F.lit(1)).alias("c_bi"))
    )
    # aggregate + join back, NOT a window: a (lang, prev) window partition
    # holds every continuation of a stop-word context in one unsplittable
    # task; the equi-join is AQE-skew-splittable and its input is the
    # bigram-vocab table, not the corpus.
    ctx = bi.groupBy("lang", "prev").agg(F.sum("c_bi").alias("c_ctx"))
    return uni, bi.join(ctx, ["lang", "prev"]), totals


def perplexity(
    docs: DataFrame,
    *,
    train: DataFrame | None = None,
    lm: tuple[DataFrame, DataFrame, DataFrame] | None = None,
    text_col: str = "text",
    lang_col: str = "lang",
    id_col: str = "doc_id",
    lam: float = DEFAULT_LAMBDA,
) -> DataFrame:
    """Per-doc LM log-perplexity: (doc_id, lang, n_tokens, logppl).

    ``train`` defaults to ``docs`` (self-trained corpus LM); pass a curated
    reference slice for the literal CCNet setup, or pass pre-fit (ideally
    persisted) ``train_bigram_lm`` tables via ``lm`` for the train-once/
    score-many path — scoring then scans the corpus once.  λ ∈ [0, 1];
    note λ = 1 exactly is only OOV-safe when train covers every scored
    bigram (an unseen pair then scores p = 0, whose ln is NULL/-inf) —
    any λ < 1 keeps the unigram floor under every token."""
    if not 0.0 <= lam <= 1.0:
        raise ValueError(f"lam must be in [0, 1]: {lam}")
    if lm is not None and train is not None:
        raise ValueError("pass train OR pre-fit lm tables, not both")
    uni, bi, totals = lm if lm is not None else train_bigram_lm(
        train if train is not None else docs, text_col=text_col, lang_col=lang_col
    )
    scored = F.expr(
        "transform(toks, (w, i) -> struct("
        " CASE WHEN i = 0 THEN CAST(NULL AS STRING) ELSE toks[i - 1] END AS prev,"
        " w AS cur))"
    )
    tok = (
        _tok_arrays(docs, text_col=text_col, lang_col=lang_col, extra=(id_col,))
        .select(id_col, "lang", F.explode(scored).alias("pr"))
        .select(id_col, "lang", F.col("pr.prev").alias("prev"), F.col("pr.cur").alias("cur"))
    )
    j = (
        tok.join(uni, ["lang", "cur"], "left")
        .join(bi, ["lang", "prev", "cur"], "left")
        .join(F.broadcast(totals), "lang")
    )
    p_uni = (F.coalesce(F.col("c_uni"), F.lit(0)) + F.lit(1)) / (
        F.col("n_train_tokens") + F.col("vocab") + F.lit(1)
    )
    mle = F.when(F.col("c_bi").isNotNull(), F.col("c_bi") / F.col("c_ctx")).otherwise(
        F.lit(0.0)
    )
    p = F.when(F.col("prev").isNull(), p_uni).otherwise(
        F.lit(lam) * mle + F.lit(1.0 - lam) * p_uni
    )
    return (
        j.select(id_col, "lang", p.alias("p"))
        .groupBy(id_col, "lang")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.round(-F.avg(F.log("p")), 6).alias("logppl"),
        )
    )


def perplexity_buckets(
    docs: DataFrame,
    *,
    train: DataFrame | None = None,
    buckets: tuple[float, float] = DEFAULT_BUCKETS,
    **kw,
) -> DataFrame:
    """CCNet head/middle/tail split per language: (lang, ppl_bucket, n_docs,
    share).  Buckets cut the ROUNDED logppl at fixed thresholds (CCNet cuts
    at per-language ppl terciles; fixed cuts keep the operator a pure
    function of the corpus — quantile estimation differs across engines).
    ``share`` is within-language; the per-language totals aggregate the
    |langs|·3-row bucket table and join back — never the corpus."""
    lo, hi = buckets
    if not lo < hi:
        raise ValueError(f"bucket thresholds must increase: {buckets}")
    ppl = perplexity(docs, train=train, **kw)
    bucket = (
        F.when(F.col("logppl") <= F.lit(lo), F.lit("head"))
        .when(F.col("logppl") <= F.lit(hi), F.lit("middle"))
        .otherwise(F.lit("tail"))
    )
    # Within-language share via a window over the AGGREGATED bucket table,
    # not an aggregate + join-back: the join-back's second reference to
    # `counts` re-ran the entire per-doc scoring DAG (Spark plans no
    # subtree reuse), and a (lang) window partition here is bounded at 3
    # rows per language at ANY corpus scale (head/middle/tail), so the r9
    # unsplittable-window hazard cannot apply.
    from pyspark.sql import Window

    counts = ppl.groupBy("lang", bucket.alias("ppl_bucket")).agg(
        F.count(F.lit(1)).alias("n_docs")
    )
    lang_docs = F.sum("n_docs").over(Window.partitionBy("lang"))
    return counts.select(
        "lang",
        "ppl_bucket",
        "n_docs",
        F.round(F.col("n_docs") / lang_docs, 6).alias("share"),
    )


#: the persisted LM tables in the index protocol (state/manifest.py)
LM_TABLES = M.Family("lm", "bigram-v1", "lm_write")
_LM_PARTS = ("unigram", "bigram", "totals")
_RECIPE = {"tokenizer": "whitespace-lower", "order": 2}


def lm_write(lm: tuple[DataFrame, DataFrame, DataFrame], path: str) -> None:
    """Persist pre-fit LM tables (train_bigram_lm's (unigram, bigram+ctx,
    totals)) — the train-once/score-many production shape the module
    docstring promises, made concrete: fit on the reference slice once,
    write here, and every scoring job / streaming admission query
    (streaming.ingest.quality_admit_stream) loads the tables instead of
    rescanning the training corpus.

    Parts unigram, bigram and totals, each written to a fresh directory
    and made live together, with the recipe marker (scoring MUST tokenize
    the same way — whitespace on lower(text) — so it is checked at load),
    by one manifest publish (state/manifest.py): a concurrent load sees
    the old tables or the new ones, never a mix. The totals part is
    |langs| rows; unigram/bigram are vocab-bounded, never
    corpus-row-bounded, so the artifact is small at any corpus scale."""
    with LM_TABLES.commit(path) as c:
        dirs = {}
        for part, table in zip(_LM_PARTS, lm):
            dirs[part], data = c.new_dir()
            table.write.parquet(data)
        c.publish({**_RECIPE, "parts": {p: [d] for p, d in dirs.items()}})


def lm_load(spark, path: str) -> tuple[DataFrame, DataFrame, DataFrame]:
    """(unigram, bigram+ctx, totals) for `perplexity(lm=...)` /
    `quality_admit_stream`. Loud on a recipe mismatch — a LM scored with a
    different tokenizer is silently wrong, never approximately right."""
    meta = LM_TABLES.load(path)
    if {k: meta.get(k) for k in _RECIPE} != _RECIPE:
        raise ValueError(f"LM table recipe {meta} != scorer recipe {_RECIPE}")
    return tuple(M.frame(spark, path, meta["parts"][p]) for p in _LM_PARTS)
