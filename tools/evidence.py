"""Machine-checkable evidence ledger for the driver correctness gate.

The driver grades only the FIRST 50 `queries()` entries per round, so every
other query's correctness claim is "green in round R AND its operator files
unchanged since". Until r8 that second clause was verified by hand with git
archaeology every round (VERDICT r7 What's-wrong #3). This tool makes it a
pytest invariant:

- `EVIDENCE.json` maps each query to the round whose grading window last
  held it and the sha256 of each of its OPERATOR FILES at that time (the
  same file granularity the judges audit; the entry file and shared session
  plumbing are excluded because they change every round by design and the
  driver re-smokes them each round).
- `update(round)` refreshes the ledger: every query currently inside the
  50-slot window gets stamped with `round` + current hashes; tail entries
  are left untouched. Run it when the round's window is final.
- `check()` returns violations: any query OUTSIDE the window whose files
  have drifted from its ledger hashes (its evidence predates its code), or
  any query/oracle with no ledger row. `tests/test_driver_contract.py`
  asserts the list is empty, so "graded-green and unchanged-since" fails
  the suite the moment an edit invalidates tail evidence — the fix is to
  rotate the query into the window and re-run `update`.

Usage:
    python tools/evidence.py update <round>
    python tools/evidence.py check
"""

from __future__ import annotations

import hashlib
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
LEDGER = os.path.join(REPO, "EVIDENCE.json")
WINDOW = 50

_PKG = "mcp_synaptic_spark"
MEM = (f"{_PKG}/operators/memory.py", f"{_PKG}/sources/memories.py", f"{_PKG}/functions/ttl.py")
TTLF = (f"{_PKG}/functions/ttl.py", f"{_PKG}/sources/memories.py")
RAG = (f"{_PKG}/operators/rag.py", f"{_PKG}/functions/vector.py")
DEDUP = (f"{_PKG}/operators/dedup.py", f"{_PKG}/functions/text.py")
SIM = (f"{_PKG}/operators/similarity.py", f"{_PKG}/functions/vector.py")
CLUST = (f"{_PKG}/operators/clustering.py",) + DEDUP
PIPE = (f"{_PKG}/operators/pipeline.py", f"{_PKG}/functions/text.py")
TXT = (f"{_PKG}/operators/text_analysis.py", f"{_PKG}/functions/text.py")
TBL = (f"{_PKG}/sources/tables.py",)
DOCS = (f"{_PKG}/operators/documents.py",)
EMB = (f"{_PKG}/sources/embedders.py",)
RETR = (f"{_PKG}/operators/retrieval.py",)
MM = (f"{_PKG}/operators/multimodal.py",)
#: the index persistence protocol every persisted-index query reads through
IDX = (f"{_PKG}/state/manifest.py",)

#: query -> operator files whose content its correctness evidence covers.
#: Entry-file-only queries (TPC-H suite etc.) list their table loader.
QUERY_FILES: dict[str, tuple[str, ...]] = {
    "quality_admit": (f"{_PKG}/streaming/ingest.py", f"{_PKG}/operators/lm.py") + DEDUP + TXT,
    "dedup_apply_fused": CLUST,
    "assemble_context": RETR + RAG,
    "doc_add": DOCS + EMB,
    "doc_get": DOCS,
    "doc_update": DOCS + EMB,
    "doc_delete": DOCS,
    "doc_stats": TBL + (f"{_PKG}/functions/text.py",),
    "tpch_q1": TBL,
    "tpch_q3": TBL,
    "tpch_q5": TBL,
    "tpch_q6": TBL,
    "top_orders_per_customer": TBL,
    "orders_semi_join": TBL,
    "customers_anti_join": TBL,
    "orders_rollup": TBL,
    "orders_page": TBL,
    "props_keys": TBL,
    "events_json": TBL,
    # the query scores through rag.score_against (RAG) over a loaded table
    "max_score": RAG + TBL,
    "parse_ttl": TTLF,
    "time_until_expiry": TTLF,
    "ts_parse_multi": TTLF,
    "fingerprint": TXT,
    "token_stats": TXT,
    "quality_score": TXT,
    "lang_id": TXT,
    "lang_distribution": TXT,
    "repetition_stats": TXT,
    "quality_gate": TXT,
    "sanitize": (f"{_PKG}/functions/text.py",),
    "search_by_metadata": RETR,
    "doc_summary": RETR,
    "bm25_search": RETR,
    "bm25_search_indexed": (f"{_PKG}/operators/bm25_index.py",) + IDX,
    "bm25_index_append": (f"{_PKG}/operators/bm25_index.py",) + IDX,
    "hybrid_search": RETR + RAG,
    "pairwise_similarity": RAG,
    "rag_search": RAG,
    "rag_search_filtered": RAG,
    "find_similar": RAG,
    "batch_topk": RAG,
    "knn_classify": RAG,
    "dedup_exact": DEDUP,
    "dedup_keep_first": DEDUP,
    "dedup_minhash": DEDUP,
    "dedup_simhash": DEDUP,
    "dedup_simhash_capped": DEDUP,
    "dedup_ngram_jaccard": DEDUP,
    "dedup_embedding": DEDUP + SIM,
    "dedup_embedding_lsh": DEDUP + SIM,
    "dedup_substring": DEDUP,
    "dedup_substring_apply": DEDUP,
    # the arbitrated index append runs through TxnTable.put_if_absent, so
    # txn.py edits stale this query's evidence too (r10)
    "dedup_incremental": DEDUP + (f"{_PKG}/state/txn.py",),
    "ann_lsh_topk": SIM,
    "ann_mllib_lsh": SIM + IDX,
    "ann_brp_append": SIM + IDX,
    "ann_ivf_topk": SIM + IDX,
    "ann_ivf_append": SIM + IDX,
    "dedup_semantic": SIM + DEDUP + IDX,
    "ann_quantized_topk": SIM,
    "ann_ivf_sq8_topk": SIM + IDX,
    "doc_change_feed": (f"{_PKG}/streaming/expiry.py",) + DOCS,
    "filter_tags_created": MEM,
    "memory_list": MEM,
    "memory_list_expired": MEM,
    "memory_list_by_keys": MEM,
    "memory_stats": MEM,
    "memory_stats_by_type": MEM,
    "cleanup_expired_count": MEM,
    "memories_live_count": MEM,
    "memory_upsert": MEM,
    "memory_touch": MEM,
    "memory_delete": MEM,
    "memory_exists": MEM,
    "memory_update": MEM,
    "memory_report": MEM + (f"{_PKG}/functions/text.py",),
    "memory_upsert_txn": MEM + (f"{_PKG}/state/txn.py",),
    "memory_upsert_mor": MEM + (f"{_PKG}/state/txn.py",),
    "memory_upsert_ckpt": MEM + (f"{_PKG}/state/txn.py",),
    "memory_snapshot_read": MEM + (f"{_PKG}/state/txn.py",),
    "memory_access_replay": (f"{_PKG}/streaming/access_log.py",) + MEM,
    "events_hourly": (f"{_PKG}/streaming/windows.py",),
    "events_sliding": (f"{_PKG}/streaming/windows.py",),
    "events_sessions": (f"{_PKG}/streaming/windows.py",),
    "events_asof_join": (f"{_PKG}/operators/temporal.py",) + TBL,
    "events_range_join": (f"{_PKG}/operators/temporal.py",) + TBL,
    "corpus_summary": (f"{_PKG}/operators/stats.py", f"{_PKG}/functions/text.py") + TBL,
    "dedup_editdist": (f"{_PKG}/operators/strings.py",) + TBL,
    "dedup_editdist_segment": (f"{_PKG}/operators/strings.py",) + TBL,
    "events_funnel": (f"{_PKG}/operators/funnel.py", f"{_PKG}/functions/ttl.py") + TBL,
    "events_retention": (f"{_PKG}/operators/retention.py",) + TBL,
    "events_active_users": (f"{_PKG}/operators/retention.py",) + TBL,
    "tfidf_terms": (f"{_PKG}/operators/terms.py",) + TBL,
    "source_overlap": (f"{_PKG}/operators/terms.py",) + TBL,
    "events_anomaly": (f"{_PKG}/operators/temporal.py",) + TBL,
    "embedding_screen": (f"{_PKG}/operators/embedding_qa.py",) + TBL,
    "dims_profile": (f"{_PKG}/operators/embedding_qa.py",) + TBL,
    "dedup_rate_by_source": DEDUP + TBL,
    "events_retention_weekly": (f"{_PKG}/operators/retention.py",) + TBL,
    "events_conversion_lag": (f"{_PKG}/operators/funnel.py", f"{_PKG}/functions/ttl.py") + TBL,
    "text_screen": (f"{_PKG}/operators/text_qa.py",) + TBL,
    "embed_texts": EMB,
    "multimodal_features": MM,
    "frame_sample": MM,
    "dedup_clusters": CLUST,
    "dedup_clusters_twostar": CLUST,
    "dedup_apply_clusters": CLUST,
    "decontaminate": PIPE,
    "train_test_split": PIPE,
    "pii_redact": PIPE,
    "stratified_sample": PIPE,
    "dedup_within_doc": PIPE,
    "source_cap": PIPE,
    "source_mix": PIPE,
    "pack_sequences": PIPE,
    "token_budget_select": PIPE + TXT,
    "chunk_documents": PIPE,
    "decontaminate_semantic": PIPE + SIM,
    "corpus_prep_pipeline": PIPE + DEDUP + CLUST,
    "corpus_drift": (f"{_PKG}/operators/drift.py",) + TBL,
    "corpus_drift_lang": (f"{_PKG}/operators/drift.py",) + TBL,
    "lm_perplexity": (f"{_PKG}/operators/lm.py",) + TBL,
    "lm_ppl_buckets": (f"{_PKG}/operators/lm.py",) + TBL,
}

#: last driver-graded round for queries that are OUTSIDE the r8 window at
#: ledger bootstrap (everything else in the r8 tail is green in r7). Used
#: only when a query has no ledger row yet.
_BACKFILL_ROUND = {"max_score": 6, "memory_access_replay": 6, "multimodal_features": 6}


def _sha(relpath: str) -> str:
    with open(os.path.join(REPO, relpath), "rb") as f:
        return hashlib.sha256(f.read()).hexdigest()


def _window_names() -> tuple[list[str], set[str]]:
    import __spark_entry__ as entry

    names = list(entry.queries())
    return names, set(names[:WINDOW])


def _load() -> dict:
    if os.path.exists(LEDGER):
        with open(LEDGER) as f:
            return json.load(f)
    return {}


def _graded_set(round_n: int, window: set[str]) -> set[str]:
    """The set of queries round `round_n` actually graded.

    VERDICT r12 What's-wrong #1: stamping the PREDICTED 50-slot window lets
    a registry insertion made after `update()` ran silently shift a query
    outside the driver's real window while its ledger row still claims that
    round's grade (events_conversion_lag carried a phantom r12 stamp this
    way). When the driver's own `CORRECTNESS_r<N>.json` exists its key set
    is the ground truth and overrides the prediction; the prediction is
    used only for the current round, whose correctness file hasn't been
    written yet — and test_driver_contract.py's stamp-vs-grade test
    retro-checks that prediction the moment the file lands.
    """
    path = os.path.join(REPO, f"CORRECTNESS_r{round_n:02d}.json")
    if os.path.exists(path):
        with open(path) as f:
            return set(json.load(f))
    return window


def _last_graded_round(q: str, before: int) -> int | None:
    """Most recent round < `before` whose driver correctness file actually
    contains `q` — the ground-truth grade to fall back to when a predicted
    stamp turns out phantom."""
    for r in range(before - 1, 0, -1):
        path = os.path.join(REPO, f"CORRECTNESS_r{r:02d}.json")
        if os.path.exists(path):
            with open(path) as f:
                if q in json.load(f):
                    return r
    return None


def _ledger_hashes_at_round(q: str, round_n: int) -> dict | None:
    """Recover the file hashes this row carried when it was last stamped
    `round_n`, from EVIDENCE.json's own git history. Returns None if no
    committed ledger version has that stamp (caller falls back to the
    current tree — correct only if the files haven't drifted, which
    check() then enforces against the CURRENT hashes anyway)."""
    import subprocess

    try:
        revs = subprocess.run(
            ["git", "rev-list", "HEAD", "--", "EVIDENCE.json"],
            cwd=REPO, capture_output=True, text=True, check=True,
        ).stdout.split()
        for rev in revs:
            blob = subprocess.run(
                ["git", "show", f"{rev}:EVIDENCE.json"],
                cwd=REPO, capture_output=True, text=True, check=True,
            ).stdout
            row = json.loads(blob).get(q)
            if row and row.get("window_round") == round_n:
                return row["files"]
    except Exception:
        return None
    return None


def update(round_n: int) -> dict:
    names, window = _window_names()
    graded = _graded_set(round_n, window)
    ledger = _load()
    for q in names:
        files = QUERY_FILES.get(q)
        if files is None:
            raise KeyError(f"query {q!r} has no QUERY_FILES entry — add one")
        if q in graded:
            ledger[q] = {
                "window_round": round_n,
                "files": {f: _sha(f) for f in files},
            }
        elif q in ledger and ledger[q].get("window_round") == round_n:
            # This row was stamped `round_n` by an earlier update, but round
            # `round_n` does not grade it: the driver's landed correctness
            # file says so (VERDICT r14 What's-wrong #1), or, before it
            # lands, the row has since rotated out of the predicted window.
            # Either way the stamp claims a grade that will not happen.
            # Repair: revert to the most recent round that really graded
            # it, restoring that era's hashes from the ledger's git history
            # so drift since the true grade stays detectable.
            true_round = _last_graded_round(q, round_n)
            old_hashes = (
                _ledger_hashes_at_round(q, true_round) if true_round else None
            )
            ledger[q] = {
                "window_round": true_round,
                "files": old_hashes or {f: _sha(f) for f in files},
            }
        elif q not in ledger:
            # a query born OUTSIDE the window has no grading evidence yet:
            # null round = "pending first grading" (check() skips drift —
            # there is nothing to invalidate; the contract test pins the
            # next-round rotation). The _BACKFILL_ROUND map covered the r8
            # bootstrap's known history.
            ledger[q] = {
                "window_round": _BACKFILL_ROUND.get(q),
                "files": {f: _sha(f) for f in files},
            }
    # drop rows for queries that no longer exist
    for q in [q for q in ledger if q not in names]:
        del ledger[q]
    with open(LEDGER, "w") as f:
        json.dump(dict(sorted(ledger.items())), f, indent=1, sort_keys=True)
        f.write("\n")
    return ledger


def check_graded_stamps() -> list[str]:
    """VERDICT r13 What's-wrong #1 (the hash-snapshot twin of r12's phantom
    round stamp): once `CORRECTNESS_rR.json` exists, round R's grade already
    happened — a row stamped `window_round: R` gets NO window exemption and
    its ledger hashes must match the committed tree byte-for-byte. In r13
    the ledger was stamped at window rotation and five later graded commits
    changed similarity.py, so the ledger misdescribed what the driver
    graded. The discipline this enforces: re-run `update <R>` the moment
    `CORRECTNESS_rR.json` lands (before any new-round edit), and re-run
    `update <R+1>` after every in-round edit to a graded file.
    """
    ledger = _load()
    stale = []
    for q, row in ledger.items():
        r = row.get("window_round")
        if r is None:
            continue
        if not os.path.exists(os.path.join(REPO, f"CORRECTNESS_r{r:02d}.json")):
            continue  # the in-flight round: its grade hasn't landed yet
        for f, h in row["files"].items():
            if not os.path.exists(os.path.join(REPO, f)):
                stale.append(f"{q}: graded-round evidence file {f} is gone")
            elif _sha(f) != h:
                stale.append(
                    f"{q}: {f} drifted from its round-{r} graded-tree stamp — "
                    "rotate into the current window and re-run update"
                )
    return stale


def check() -> list[str]:
    names, window = _window_names()
    ledger = _load()
    violations = []
    for q in names:
        if QUERY_FILES.get(q) is None:
            violations.append(f"{q}: no QUERY_FILES mapping")
            continue
        row = ledger.get(q)
        if row is None:
            violations.append(f"{q}: no EVIDENCE.json row (run tools/evidence.py update)")
            continue
        if q in window:
            continue  # being (re)graded this round — hashes refresh at update
        if row.get("window_round") is None:
            continue  # never graded yet — nothing to invalidate (pinned for next round)
        for f, h in row["files"].items():
            if not os.path.exists(os.path.join(REPO, f)):
                violations.append(f"{q}: evidence file {f} is gone")
            elif _sha(f) != h:
                violations.append(
                    f"{q}: {f} changed since its round-{row['window_round']} "
                    "grading — rotate the query into the window"
                )
    return violations


if __name__ == "__main__":
    cmd = sys.argv[1] if len(sys.argv) > 1 else "check"
    if cmd == "update":
        update(int(sys.argv[2]))
        print(f"EVIDENCE.json updated for round {sys.argv[2]}")
    elif cmd == "check":
        v = check()
        for line in v:
            print("VIOLATION:", line)
        print(f"{len(v)} violations")
        sys.exit(1 if v else 0)
    else:
        raise SystemExit(f"unknown command {cmd!r}")
