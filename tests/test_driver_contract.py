"""Guards on the driver contract surface (__spark_entry__.py): the grading
window, oracle completeness, column-name agreement, and the evidence ledger
are invariants the correctness gate depends on — a refactor that silently
drops an oracle, rotates a stale query out of the window, or edits an
operator file behind a tail query's back should fail HERE, not in the next
round's verdict."""

from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import __spark_entry__ as entry


def test_every_query_has_an_oracle():
    """Zero rows-only queries: the driver hash-compares whatever oracle_sql
    provides; a queries() entry with no oracle degrades to a rows-only check
    without failing anywhere."""
    qs, osql = entry.queries(), entry.oracle_sql()
    assert set(osql) == set(qs), (
        f"missing oracles: {set(qs) - set(osql)}; orphans: {set(osql) - set(qs)}"
    )


def test_graded_window_holds_the_round_targets():
    """The driver grades the FIRST 50 dict entries only. The r16 window must
    hold (a) every query whose operator files the r16 optimization commits
    touch — similarity.py (bytes-sized index writes), bm25_index.py
    (staleness snapshot + per-term df sidecar), dedup.py (corpus-tier
    checkpoint), pipeline.py (plane-sizing count reuse), sources/
    embedders.py and operators/multimodal.py (bytes-sized light-Arrow
    fan-out) — a hard tools/evidence.py constraint, (b) memory_access_replay,
    whose ENTRY query was restructured this round (per-key input pruning;
    output-identical, the oracle re-proves it), and (c) the queries whose
    operator files the expiry/admission simplification edits outside the
    r16 cohort — doc_change_feed (streaming/expiry.py) and the four txn
    rows (state/txn.py) — in the slots the r16 advisory refresh used (that
    refresh was graded in r16 and its files are untouched), and (d) the
    nine queries whose evidence covers operators/rag.py and
    functions/vector.py, in the slots of nine r16-graded pipeline.py rows
    whose files are untouched, and (e) the two LM rows, whose
    operators/lm.py the index persistence protocol edits, in the slots of
    frame_sample and token_budget_select (r16-graded, files untouched)."""
    names = list(entry.queries())
    assert len(names) >= 96
    window = set(names[:50])
    r16_touched = (
        # operators/similarity.py
        "ann_brp_append", "ann_lsh_topk", "ann_mllib_lsh", "ann_ivf_topk",
        "ann_ivf_append", "ann_quantized_topk", "ann_ivf_sq8_topk",
        "dedup_semantic", "dedup_embedding", "dedup_embedding_lsh",
        "decontaminate_semantic",
        # operators/bm25_index.py
        "bm25_search_indexed", "bm25_index_append",
        # operators/dedup.py
        "dedup_incremental", "quality_admit", "corpus_prep_pipeline",
        "dedup_exact", "dedup_keep_first", "dedup_minhash",
        "dedup_ngram_jaccard", "dedup_simhash", "dedup_simhash_capped",
        "dedup_substring", "dedup_substring_apply", "dedup_rate_by_source",
        "dedup_clusters", "dedup_clusters_twostar", "dedup_apply_clusters",
        "dedup_apply_fused",
        # sources/embedders.py + operators/multimodal.py (the pipeline.py
        # rows and frame_sample rotated out for the RAG and LM rows below,
        # with their r16 grades standing)
        "embed_texts", "doc_add", "doc_update", "multimodal_features",
    )
    entry_restructured = ("memory_access_replay",)
    txn_expiry_touched = (
        "doc_change_feed", "memory_upsert_txn", "memory_upsert_mor",
        "memory_upsert_ckpt", "memory_snapshot_read",
    )
    # operators/rag.py + functions/vector.py (exact search as one SQL
    # statement): every query whose evidence covers them
    rag_touched = (
        "rag_search", "rag_search_filtered", "find_similar", "batch_topk",
        "pairwise_similarity", "knn_classify", "hybrid_search",
        "assemble_context", "max_score",
    )
    # operators/lm.py (lm_write/lm_load through state/manifest.py)
    lm_touched = ("lm_perplexity", "lm_ppl_buckets")
    for must_grade in r16_touched + entry_restructured + txn_expiry_touched + rag_touched + lm_touched:
        assert must_grade in window, f"{must_grade} rotated out of the graded window"


def test_oracles_are_nonempty_sql():
    for name, sql in entry.oracle_sql().items():
        assert isinstance(sql, str) and "SELECT" in sql.upper(), name


def test_no_query_left_ungraded_behind_the_window():
    """Every query the ledger marks pending-first-grading (window_round
    null) must sit INSIDE the current 50-slot window — the generalized form
    of the r8 pin that carried dedup_incremental/memory_snapshot_read into
    r9. A query born into the tail is acceptable only until the next
    rotation; this test is what makes the rotation mandatory."""
    import json

    names = list(entry.queries())
    window = set(names[:50])
    with open(os.path.join(REPO, "EVIDENCE.json")) as f:
        ledger = json.load(f)
    pending = [q for q, row in ledger.items() if row.get("window_round") is None]
    # The r8 escape hatch, used once per round at most: queries born AFTER
    # the round's window filled (every slot already required by touched
    # files / first-grade pins / the oldest-ledger refresh order) may wait
    # in the tail ONLY if named here — this list IS the next round's
    # mandatory rotation (dedup_incremental / memory_snapshot_read rode it
    # r8→r9; the seventeen analytics queries rode it r9→r10; the two drift
    # queries rode it r10→r11; the two LM-perplexity queries rode it
    # r11→r12; dedup_apply_fused rode it r12→r13; all were graded on
    # schedule). r14's one new query (ann_ivf_append) was born INTO the
    # window — the hatch is empty.
    r15_rotation_pins: set[str] = set()
    out = [q for q in pending if q not in window and q not in r15_rotation_pins]
    assert out == [], f"pending-first-grade queries left in the tail: {out}"


def test_bench_sets_pin_is_consistent():
    """bench_sets.json (r8: the comparable set as data, not code) must refer
    only to real queries, and the comparable set must stay disjoint from the
    write-path skip list."""
    import json

    with open(os.path.join(REPO, "bench_sets.json")) as f:
        sets = json.load(f)
    qs = set(entry.queries())
    comparable = set(sets["comparable_queries"])
    skip = set(sets["skip_write_path"])
    assert comparable <= qs, comparable - qs
    assert skip <= qs, skip - qs
    assert not (comparable & skip)
    # the pinned set is the BENCH_r06 surface: 67 queries, frozen
    assert len(comparable) == 67


def test_evidence_ledger_is_complete_and_fresh():
    """The machine-checkable replacement (r8, VERDICT r7 #3) for the manual
    'green-and-files-unchanged-since' audit: every query has a ledger row in
    EVIDENCE.json, and no query OUTSIDE the current grading window has an
    operator file that drifted past its recorded grading round. An edit that
    invalidates tail evidence fails here until the query is rotated into the
    window and `python tools/evidence.py update <round>` is re-run."""
    from tools.evidence import QUERY_FILES, check

    qs = entry.queries()
    assert set(QUERY_FILES) == set(qs), (
        f"ledger mapping out of sync: missing={set(qs) - set(QUERY_FILES)}, "
        f"orphans={set(QUERY_FILES) - set(qs)}"
    )
    violations = check()
    assert violations == [], "\n".join(violations)


def test_graded_round_stamps_match_committed_tree():
    """VERDICT r13 What's-wrong #1: a `window_round: R` stamp whose
    `CORRECTNESS_rR.json` has landed must carry the graded tree's file
    hashes — the in-window "hashes refresh at update" exemption applies
    only to the in-flight round, whose grade hasn't happened yet. This is
    what forces `tools/evidence.py update R` to be re-run from the tree
    the driver actually graded (r13's ledger carried rotation-time hashes
    that predated five graded similarity.py commits)."""
    from tools.evidence import check_graded_stamps

    stale = check_graded_stamps()
    assert stale == [], "\n".join(stale)


def test_evidence_stamps_match_actual_driver_grades():
    """VERDICT r12 What's-wrong #1: a `window_round: R` stamp must name a
    round that ACTUALLY graded the query — i.e. the query appears in the
    driver's own `CORRECTNESS_rR.json`. A registry insertion made after
    `evidence.py update` ran can push a stamped query past slot 50; the
    stamp then claims a grade that never happened (events_conversion_lag
    carried a phantom r12 stamp this way — re-stamped to its true r10).
    The current round's stamp is exempt only until its correctness file
    lands; the next round's run of this test retro-checks it."""
    import json

    with open(os.path.join(REPO, "EVIDENCE.json")) as f:
        ledger = json.load(f)
    phantom = []
    for q, row in ledger.items():
        r = row.get("window_round")
        if r is None:
            continue
        path = os.path.join(REPO, f"CORRECTNESS_r{r:02d}.json")
        if not os.path.exists(path):
            continue  # the in-flight round: driver hasn't graded yet
        with open(path) as f:
            graded = set(json.load(f))
        if q not in graded:
            phantom.append(f"{q}: stamped r{r} but absent from {os.path.basename(path)}")
    assert phantom == [], "\n".join(phantom)


def test_no_program_file_names_the_checkout_path():
    """Cache, fixture and import roots resolve from `__file__`, so the
    engine, its tests and its tools run from any checkout. No program file
    may name an absolute checkout path: neither this checkout's own nor
    the one the project was first developed in. The one-off
    `tools/ab_*.py` measurement scripts are left to their deletion
    (ROADMAP item 1)."""
    import glob

    needles = {REPO, os.path.join(os.sep, "root", "repo")}
    files = [os.path.join(REPO, f) for f in ("__spark_entry__.py", "bench.py")]
    for tree in ("mcp_synaptic_spark", "tests"):
        files += glob.glob(os.path.join(REPO, tree, "**", "*.py"), recursive=True)
    files += [
        f for f in glob.glob(os.path.join(REPO, "tools", "*.py"))
        if not os.path.basename(f).startswith("ab_")
    ]
    hits = []
    for path in files:
        with open(path, encoding="utf-8") as f:
            text = f.read()
        hits += [f"{os.path.relpath(path, REPO)}: {n}" for n in needles if n in text]
    assert len(files) > 50
    assert hits == [], "\n".join(hits)


def test_no_operator_writes_files_outside_the_index_protocol():
    """The persisted indexes write their manifests and sidecars through one
    protocol (state/manifest.py: uniquely named fsynced temp file, then
    os.replace, under the index's writer lock). No operator module may
    replace a file or open one for writing itself — that is how five
    hand-rolled manifest schemes with three temp-name conventions grew."""
    import glob
    import re

    writes = re.compile(
        r"os\.replace\(|os\.rename\(|\.write_(?:text|bytes)\(|os\.O_(?:WRONLY|RDWR|CREAT)"
        r"|\bopen\((?:[^()]|\([^()]*\))*,\s*(?:mode\s*=\s*)?[fr]?['\"][rb]*[wax+]"
    )
    files = glob.glob(os.path.join(REPO, "mcp_synaptic_spark", "operators", "*.py"))
    hits = []
    for path in files:
        with open(path, encoding="utf-8") as f:
            for n, line in enumerate(f, 1):
                if writes.search(line):
                    hits.append(f"{os.path.relpath(path, REPO)}:{n}: {line.strip()}")
    assert len(files) > 15
    assert hits == [], "\n".join(hits)


def test_update_restamps_a_row_rotated_out_of_the_window(tmp_path, monkeypatch):
    """`update <R>` before round R's correctness file lands: a row stamped R
    by an earlier update that has since rotated OUT of the window must get
    its last real grade back (round and file hashes), not keep the
    predicted stamp R for a grade the driver will not give."""
    import json

    from tools import evidence as ev

    ledger = tmp_path / "EVIDENCE.json"
    ledger.write_text(json.dumps({
        "kept": {"window_round": 99, "files": {"ROADMAP.md": "x"}},
        "rotated_out": {"window_round": 99, "files": {"ROADMAP.md": "x"}},
    }))
    monkeypatch.setattr(ev, "LEDGER", str(ledger))
    monkeypatch.setattr(ev, "QUERY_FILES", {"kept": ("ROADMAP.md",), "rotated_out": ("ROADMAP.md",)})
    monkeypatch.setattr(ev, "_window_names", lambda: (["kept", "rotated_out"], {"kept"}))
    monkeypatch.setattr(ev, "_last_graded_round", lambda q, before: 98)
    monkeypatch.setattr(ev, "_ledger_hashes_at_round", lambda q, r: {"ROADMAP.md": f"graded-r{r}"})
    assert not os.path.exists(os.path.join(REPO, "CORRECTNESS_r99.json"))
    ev.update(99)
    rows = json.loads(ledger.read_text())
    assert rows["kept"] == {"window_round": 99, "files": {"ROADMAP.md": ev._sha("ROADMAP.md")}}
    assert rows["rotated_out"] == {"window_round": 98, "files": {"ROADMAP.md": "graded-r98"}}
