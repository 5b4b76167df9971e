"""Composed on-arrival ingestion pipeline: the streaming front door a
training-data/RAG corpus actually runs, assembled from the individually
graded operators:

    raw document stream
      → quality gate        (text_analysis.quality_gate — fused projection)
      → exact dedup         (dedup_stream.streaming_exact_dedup — managed
                             state, watermark-bounded)
      → chunking            (pipeline.chunk_documents — projection+explode)

Every stage is a narrow per-row transform or a dropDuplicates over managed
state, so the whole pipeline composes with readStream in APPEND mode — no
stream-stream joins, no multi-aggregation plans. Batch-equals-stream for
each stage is pinned separately (tests/test_streaming.py); this module's
test pins the COMPOSITION end-to-end.

Scale notes: the gate and chunker are embarrassingly parallel scans; the
dedup stage's state is bounded by (arrival rate × watermark horizon) when
`ts_col` is given. The near-dup/incremental screen intentionally does NOT
sit in this chain — it aggregates, so it runs per micro-batch via
foreachBatch against the static corpus (see
tests/test_streaming.py::test_streaming_incremental_dedup_screen_foreachbatch);
`admit_stream` wires that shape. Both admit streams grow the persisted
dedup index through one write path, `dedup.dedup_index_append_txn`: its
admissions ledger (a state/txn.py TxnTable) arbitrates racing admitters,
and its ownership rule plus the append's batch fingerprint make
foreachBatch's at-least-once replays and crash retries safe.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.pipeline import chunk_documents
from ..operators.text_analysis import GATE_RULES, quality_gate
from ..operators.text_qa import suspect_expr
from .dedup_stream import streaming_exact_dedup

__all__ = ["ingest_pipeline", "admit_stream", "quality_admit_verdicts", "quality_admit_stream"]


def ingest_pipeline(
    docs: DataFrame,
    *,
    content_col: str = "text",
    id_col: str = "doc_id",
    rules=GATE_RULES,
    ts_col: str | None = None,
    watermark: str = "1 hour",
    chunk_words: int = 100,
    overlap: int = 20,
    transport_screen: bool = True,
    max_line: int = 4000,
) -> DataFrame:
    """transport-screen → gate → exact-dedup → chunk over a (streaming or
    batch) documents frame. Output: one row per surviving chunk
    (id, chunk_idx, chunk_text, n_chunk_words, start_word).

    ``transport_screen`` (default on, r9) drops encoding-damaged rows
    (control chars / U+FFFD / minified mile-long lines — text_qa.py)
    BEFORE the content-quality gate: damage flags are cheap zero-shuffle
    column expressions, and a mojibake doc can otherwise sail through
    length/stopword rules and poison the dedup index downstream.

    Works identically on a batch DataFrame (the stream==batch test relies
    on exactly that), with one semantic caveat inherent to streaming
    dedup: first-seen-wins order is arrival order in a stream and
    plan-internal order in a batch — for EXACT duplicates every copy has
    identical downstream output, so the surviving chunks are the same set
    either way.

    ``id_col``: quality_gate reads/reserves the literal column name
    ``doc_id`` (its fused projection contract), so a non-default id is
    threaded by renaming at the boundary — rename in, run the chain on
    doc_id, rename back on the chunk output (ADVICE r8: the parameter used
    to fail at analysis time for any non-default value).
    """
    if id_col != "doc_id":
        if "doc_id" in docs.columns:
            raise ValueError(
                f"id_col={id_col!r} with an existing 'doc_id' column would "
                "clobber it — rename one of them first"
            )
        docs = docs.withColumnRenamed(id_col, "doc_id")
    if transport_screen:
        # same no-join discipline as the gate: the suspect verdict is a
        # single column expression (text_qa.suspect_expr), so it filters
        # the stream directly instead of joining text_screen's output back
        docs = docs.where(
            F.col(content_col).isNotNull()
            & ~suspect_expr(content_col, max_line=max_line)
        )
    # carry the payload THROUGH the gate (keep_cols) instead of joining the
    # verdicts back to the input — that join would be a stream-stream
    # self-join with unbounded state
    carry = tuple(c for c in ((content_col,) + ((ts_col,) if ts_col else ())))
    kept = quality_gate(
        docs, rules=rules, content_col=content_col, keep_cols=carry
    ).where(F.col("keep")).drop("keep", "reasons")
    deduped = streaming_exact_dedup(
        kept, content_col=content_col, ts_col=ts_col, watermark=watermark
    )
    out = chunk_documents(
        deduped, chunk_words=chunk_words, overlap=overlap,
        content_col=content_col, id_col="doc_id",
    )
    return out if id_col == "doc_id" else out.withColumnRenamed("doc_id", id_col)


def admit_stream(
    docs_stream: DataFrame,
    corpus: DataFrame | None,
    sink,
    *,
    checkpoint: str,
    threshold: float = 0.5,
    max_bucket: int | None = None,
    index_path: str | None = None,
    append_admitted: bool = False,
    id_col: str = "doc_id",
):
    """The near-dup half of the front door: screen each arriving
    micro-batch against the deduped corpus (dedup.dedup_incremental)
    and hand the per-doc verdicts to ``sink(verdicts_df, batch_id)``.
    foreachBatch is the right shape here — the screen aggregates (tf/df,
    per-doc argmax), which streaming plans can't express directly, and
    per-micro-batch screening is the admission semantics anyway. Returns
    the started StreamingQuery (caller awaits/stops).

    ``index_path`` switches the screen to the PERSISTED dedup index
    (dedup.dedup_index_load — no per-batch corpus recompute; 5-6× per
    screen, PLANS note 52), reloaded each micro-batch so appends between
    batches are visible. With ``append_admitted=True`` every batch's
    admitted documents are appended to the index before the next batch is
    screened — the complete incremental service: a document admitted in
    batch N is an exact_dup in batch N+1. The append goes through the
    TxnTable admissions ledger (dedup.dedup_index_append_txn), so RACING
    admitters across queries cannot both admit the same content — the
    ledger's put_if_absent lands each hash exactly once and this query's
    losers simply skip the artifact append — and a replayed or crashed
    micro-batch re-runs to the same index state.

    Per-batch verdicts are materialized to a scratch parquet directory
    under the checkpoint (sink and append must agree even though the index
    they probed is about to grow) and read back for both consumers — never
    collected to the driver: the module's own scale narrative puts a crawl
    batch at millions of rows (ADVICE r8)."""
    import os

    from ..operators.dedup import (
        dedup_incremental,
        dedup_index_append_txn,
        dedup_index_load,
    )

    if index_path is None and corpus is None:
        raise ValueError("pass a corpus DataFrame or index_path")
    if append_admitted and index_path is None:
        raise ValueError("append_admitted requires index_path (there is nothing to grow)")

    def _screen(batch_df: DataFrame, batch_id: int):
        spark = batch_df.sparkSession
        if index_path is not None:
            verdicts = dedup_incremental(
                None, batch_df, threshold=threshold, max_bucket=max_bucket,
                index=dedup_index_load(spark, index_path), id_col=id_col,
            )
        else:
            verdicts = dedup_incremental(
                corpus, batch_df, threshold=threshold, max_bucket=max_bucket, id_col=id_col
            )
        if append_admitted:
            scratch = os.path.join(checkpoint, "_screen", f"batch-{batch_id}")
            verdicts.write.mode("overwrite").parquet(scratch)
            vd = spark.read.parquet(scratch)
            admitted_docs = batch_df.join(
                vd.where(F.col("verdict") == "admitted").select(id_col), id_col, "semi"
            )
            if vd.where(F.col("verdict") == "admitted").limit(1).count():
                dedup_index_append_txn(admitted_docs, index_path, id_col=id_col)
            sink(vd, batch_id)
        else:
            sink(verdicts, batch_id)

    return (
        docs_stream.writeStream.foreachBatch(_screen)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def quality_admit_verdicts(
    batch_df: DataFrame,
    lm,
    *,
    corpus: DataFrame | None = None,
    index=None,
    ppl_cutoff: float = 3.5,
    threshold: float = 0.5,
    max_bucket: int | None = None,
    shingle_n: int = 3,
    num_hashes: int = 16,
    bands: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
    lang_col: str = "lang",
    corpus_content_col: str | None = None,
) -> DataFrame:
    """One micro-batch through the full quality front door — the BATCH
    composition `quality_admit_stream` applies per trigger (kept separate
    so stream==batch is pinnable over the exact same function):

        quality gate  (text_analysis.quality_gate, fused projection)
        → LM filter   (lm.perplexity against PRE-FIT tables — the CCNet
                       keep-the-head step; train-once/score-many, the
                       corpus is never rescanned for training per batch)
        → dedup screen (dedup.dedup_incremental, exact + near)

    Verdict per document, first failing tier wins:
      gate_rejected  a gate rule fired (reasons carries which)
      lm_unscored    survived the gate but has no LM score row (no tokens,
                     NULL lang, or a language absent from the trained LM) —
                     rejected CONSERVATIVELY: an unscorable doc must not
                     skip the quality tier (documented deviation dial)
      lm_rejected    scored, logppl > ppl_cutoff (high-perplexity tail)
      exact_dup / near_dup / admitted   from the dedup screen

    Output: (id_col, verdict, reasons, logppl, match_id, jaccard).
    """
    from ..operators.dedup import dedup_incremental
    from ..operators.lm import perplexity

    if id_col != "doc_id":
        # quality_gate's output id column is fixed; normalize and restore
        batch_df = batch_df.withColumnRenamed(id_col, "doc_id")
        out = quality_admit_verdicts(
            batch_df, lm, corpus=corpus, index=index, ppl_cutoff=ppl_cutoff,
            threshold=threshold, max_bucket=max_bucket, shingle_n=shingle_n,
            num_hashes=num_hashes, bands=bands, id_col="doc_id",
            text_col=text_col, lang_col=lang_col,
            corpus_content_col=corpus_content_col,
        )
        return out.withColumnRenamed("doc_id", id_col)
    # The verdict ladder references each tier from several downstream
    # subtrees (scored: the survivor semi-join, the screen's batch side ×3
    # inside dedup_incremental, and the final verdict join), and Spark
    # plans no common-subtree reuse — without a barrier every reference
    # re-evaluates the FULL upstream chain, including the LM scoring joins
    # and (for a self-trained lm) the whole LM fit. Each tier is
    # micro-batch-grain (bounded by the arrival batch, never the corpus),
    # so materializing it with localCheckpoint is O(batch) memory and
    # turns the re-evaluations into local reads (guide §1.2/§5: fewer
    # passes beat per-pass tuning; measured 17.7 s → see
    # OPTIMIZATION_r15.md). foreachBatch hands this function a BATCH
    # frame, so the checkpoint is always legal here.
    gate = quality_gate(batch_df, content_col=text_col).select(
        id_col, "keep", "reasons"
    ).localCheckpoint()
    scored = perplexity(
        batch_df.join(gate.where("keep").select(id_col), id_col, "semi"),
        lm=lm,
        text_col=text_col,
        lang_col=lang_col,
        id_col=id_col,
    ).select(id_col, "logppl").localCheckpoint()
    survivors = (
        batch_df.join(
            scored.where(F.col("logppl") <= ppl_cutoff).select(id_col), id_col, "semi"
        )
    ).localCheckpoint()
    # batch_content_col=text_col (ADVICE r12): the gate and LM tiers already
    # score text_col; leaving the screen on its 'text' default either crashed
    # on a renamed column or silently screened the wrong one. The corpus
    # frame keeps its own column via corpus_content_col.
    screened = dedup_incremental(
        corpus,
        survivors,
        content_col=corpus_content_col or text_col,
        batch_content_col=text_col,
        threshold=threshold,
        max_bucket=max_bucket,
        shingle_n=shingle_n,
        num_hashes=num_hashes,
        bands=bands,
        index=index,
        id_col=id_col,
    )
    g = gate
    verdict = (
        F.when(~F.col("keep"), F.lit("gate_rejected"))
        .when(F.col("logppl").isNull(), F.lit("lm_unscored"))
        .when(F.col("logppl") > ppl_cutoff, F.lit("lm_rejected"))
        .otherwise(F.col("dd_verdict"))
    )
    return (
        g.join(scored, id_col, "left")
        .join(
            screened.select(
                id_col,
                F.col("verdict").alias("dd_verdict"),
                "match_id",
                "jaccard",
            ),
            id_col,
            "left",
        )
        .select(
            id_col,
            verdict.alias("verdict"),
            "reasons",
            "logppl",
            F.when(verdict.isin("exact_dup", "near_dup"), F.col("match_id")).alias("match_id"),
            F.when(verdict.isin("exact_dup", "near_dup"), F.col("jaccard")).alias("jaccard"),
        )
    )


def quality_admit_stream(
    docs_stream: DataFrame,
    lm,
    sink,
    *,
    checkpoint: str,
    index_path: str,
    ppl_cutoff: float = 3.5,
    threshold: float = 0.5,
    max_bucket: int | None = None,
    shingle_n: int = 3,
    num_hashes: int = 16,
    bands: int = 8,
    append_admitted: bool = False,
    id_col: str = "doc_id",
    text_col: str = "text",
    lang_col: str = "lang",
):
    """The COMPLETE streaming admission service (r12, VERDICT r11 #7):
    gate → prefit-LM perplexity filter → incremental dedup screen per
    micro-batch, probing (and optionally growing) the persisted dedup
    index. `admit_stream` is the dedup-only half; this wires the quality
    tier in front so the front door carries the CCNet-style LM signal.

    ``lm`` is the pre-fit (uni, bi+ctx, totals) tuple from
    lm.train_bigram_lm — train once (persist the three tables), score
    every batch; the training corpus is never rescanned per trigger.
    Per-batch verdict semantics and output columns:
    quality_admit_verdicts (stream==batch is pinned over that exact
    function). append semantics mirror admit_stream: with
    ``append_admitted=True`` each batch's admitted docs are appended to
    the index through the admissions ledger
    (dedup.dedup_index_append_txn) before the next batch screens, so an
    admitted doc is an exact_dup one trigger later."""
    import os

    from ..operators.dedup import dedup_index_append_txn, dedup_index_load

    def _screen(batch_df: DataFrame, batch_id: int):
        spark = batch_df.sparkSession
        verdicts = quality_admit_verdicts(
            batch_df,
            lm,
            index=dedup_index_load(spark, index_path),
            ppl_cutoff=ppl_cutoff,
            threshold=threshold,
            max_bucket=max_bucket,
            shingle_n=shingle_n,
            num_hashes=num_hashes,
            bands=bands,
            id_col=id_col,
            text_col=text_col,
            lang_col=lang_col,
        )
        if append_admitted:
            scratch = os.path.join(checkpoint, "_screen", f"batch-{batch_id}")
            verdicts.write.mode("overwrite").parquet(scratch)
            vd = spark.read.parquet(scratch)
            admitted_docs = batch_df.join(
                vd.where(F.col("verdict") == "admitted").select(id_col), id_col, "semi"
            )
            if vd.where(F.col("verdict") == "admitted").limit(1).count():
                dedup_index_append_txn(
                    admitted_docs, index_path, content_col=text_col, id_col=id_col
                )
            sink(vd, batch_id)
        else:
            sink(verdicts, batch_id)

    return (
        docs_stream.writeStream.foreachBatch(_screen)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
