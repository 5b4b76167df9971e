"""Scale validation (VERDICT r6 item 6): run the dedup/ANN/memory pipelines
at ~sf1 (the committed testdata tops out at sf0.1, so the corpus is sf0.1
replicated 10x with offset ids — 20k vectors, 5k docs x10, 100k memories
x10) and record a BENCH-style JSON. The point is to exercise the
corpus-size-derived knobs (auto_n_planes, auto_n_cells, max_bucket) where
they actually bite, and to catch any operator whose scaling deviates from
its design claim.

Replication makes every row a 10-way exact-duplicate group — deliberately
the dedup-workload shape (known ground truth: C(10,2)=45 pairs per group),
and the worst case for bucket occupancy, which is what max_bucket exists
for.

Usage: python tools/scale_bench.py [REP] [out.json]
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from pyspark.sql import functions as F

from mcp_synaptic_spark.session import get_spark
from mcp_synaptic_spark.sources.tables import load_table

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

#: arms with a MEASURED I/O-regime band on bit-identical code (note 136:
#: txn_ckpt_1m spanned 111.7-394.1 s across four interleaved replays of the
#: same commit path) — reported as their own annotated lines and excluded
#: from the comparable headline total so a single arm stall can't masquerade
#: as a round-over-round regression
_IO_BAND_ARMS = frozenset({"txn_ckpt_1m"})
SCRATCH = "/tmp/spark_graft_scale10"


def build_corpus(spark, rep: int):
    reps = spark.range(rep).select(F.col("id").alias("rep"))
    emb = (
        load_table(spark, SF_DIR, "embeddings")
        .crossJoin(F.broadcast(reps))
        .select((F.col("vec_id") + F.col("rep") * 10_000_000).alias("vec_id"), "embedding")
    )
    docs = (
        load_table(spark, SF_DIR, "documents")
        .crossJoin(F.broadcast(reps))
        .select(
            (F.col("doc_id") + F.col("rep") * 10_000_000).alias("doc_id"),
            "text",
            "lang",
            "source",
        )
    )
    # write out so every operator reads a realistically-partitioned table,
    # not an in-memory cross join
    emb.write.mode("overwrite").parquet(f"{SCRATCH}/embeddings")
    docs.write.mode("overwrite").parquet(f"{SCRATCH}/documents")
    return (
        spark.read.parquet(f"{SCRATCH}/embeddings"),
        spark.read.parquet(f"{SCRATCH}/documents"),
    )


def main() -> None:
    rep = int(sys.argv[1]) if len(sys.argv) > 1 else 10
    out_path = sys.argv[2] if len(sys.argv) > 2 else "BENCH_SCALE_r10.json"
    spark = get_spark("scale-bench")
    spark.sparkContext.setLogLevel("ERROR")

    from mcp_synaptic_spark.operators.dedup import (
        embedding_near_dup_pairs_lsh,
        exact_dedup_groups,
        minhash_lsh_pairs,
        simhash_pairs,
    )
    from mcp_synaptic_spark.operators.similarity import (
        auto_n_cells,
        auto_n_planes,
        ivf_index_load,
        ivf_index_write,
        ivf_topk,
        lsh_topk_join,
        mllib_lsh_index_load,
        mllib_lsh_index_write,
        mllib_lsh_topk_indexed,
    )

    emb, docs = build_corpus(spark, rep)
    n_emb, n_docs = emb.count(), docs.count()
    queries = emb.where(F.col("vec_id") % 500 == 0).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )

    timings: dict[str, float] = {}
    checks: dict[str, object] = {
        "rep": rep,
        "n_embeddings": n_emb,
        "n_documents": n_docs,
        "auto_n_planes": auto_n_planes(n_emb),
        "auto_n_cells": auto_n_cells(n_emb),
    }

    # In-band noise canary (r16, VERDICT r15 #1): arms here are single-pass
    # (many are STATEFUL — appends, streams — so bench.py's min-of-2 cannot
    # apply), which means a transient machine stall lands on whichever arm
    # runs inside it and is indistinguishable from a code regression in the
    # recorded artifact (r15's 677 s board; r16 run-pair: dedup_minhash
    # 54.8 vs 11.7 s, decontaminate_semantic_10x 2.7 vs 16.8 s on
    # bit-identical code, quiet box). A fixed trivial query — one scan +
    # one aggregate over the replicated docs, no state — is re-timed every
    # ~12 arms; the artifact records the series and its max/min spread so a
    # regime window is visible IN-BAND, per-position, instead of inferred
    # after the fact.
    canary_series: list[float] = []

    def _canary():
        t0 = time.perf_counter()
        docs.groupBy("lang").agg(F.count(F.lit(1)), F.sum("doc_id")).collect()
        canary_series.append(round(time.perf_counter() - t0, 3))

    _canary()  # warm + position-0 reference

    def timed(name, fn):
        if len(timings) % 12 == 11:
            _canary()
        t0 = time.perf_counter()
        result = fn()
        timings[name] = round(time.perf_counter() - t0, 3)
        print(f"{name}: {timings[name]}s -> {result}", flush=True)
        return result

    # --- dedup tier: ground truth is exact (45 pairs per replicated group) --
    n_groups = timed("dedup_exact_groups", lambda: exact_dedup_groups(docs).count())
    # every distinct base text becomes one >1-member group after replication
    # (base-corpus exact dups merge groups, so compare against distinct texts)
    n_distinct = docs.select("text").distinct().count()
    checks["dedup_exact_groups_ok"] = bool(n_groups == n_distinct)

    pairs_goal = n_emb // rep * (rep * (rep - 1) // 2)
    n_lsh = timed(
        "dedup_embedding_lsh_auto",
        lambda: embedding_near_dup_pairs_lsh(emb, threshold=0.9, dim=64).count(),
    )
    checks["dedup_embedding_lsh_recall_identical"] = bool(n_lsh == pairs_goal)

    n_lsh_capped = timed(
        "dedup_embedding_lsh_capped",
        lambda: embedding_near_dup_pairs_lsh(
            emb, threshold=0.9, dim=64, max_bucket=100
        ).count(),
    )
    checks["dedup_embedding_lsh_capped_pairs"] = n_lsh_capped

    timed("dedup_minhash", lambda: minhash_lsh_pairs(docs, threshold=0.5).count())
    timed(
        "dedup_minhash_capped",
        lambda: minhash_lsh_pairs(docs, threshold=0.5, max_bucket=200).count(),
    )
    # r9: the DEFAULT simhash path is now auto-capped (auto_max_bucket —
    # the r8 494 s / 1.3e9-pair uncapped cliff is the opt-in audit arm).
    # `dedup_simhash` keeps measuring the default; the uncapped audit arm is
    # recorded at rep<=10 where it is affordable, with auto ⊆ uncapped
    # pinned there.
    from mcp_synaptic_spark.operators.dedup import auto_max_bucket

    checks["auto_max_bucket"] = auto_max_bucket(n_docs)
    n_sh_auto = timed(
        "dedup_simhash", lambda: simhash_pairs(docs, max_hamming=3).count()
    )
    checks["simhash_auto_pairs"] = n_sh_auto
    if rep <= 10:
        n_sh_uncapped = timed(
            "dedup_simhash_uncapped_audit",
            lambda: simhash_pairs(docs, max_hamming=3, max_bucket=None).count(),
        )
        checks["simhash_uncapped_pairs"] = n_sh_uncapped
        checks["simhash_auto_subset_of_uncapped"] = bool(n_sh_auto <= n_sh_uncapped)

    # --- ANN tier: auto-sized knobs, build/probe split ----------------------
    timed(
        "ann_lsh_topk_auto",
        lambda: lsh_topk_join(queries, emb, dim=64, k=5, n_planes=None, id_col="vec_id").count(),
    )

    ivf_path = f"{SCRATCH}/ivf_index"
    shutil.rmtree(ivf_path, ignore_errors=True)
    timed(
        "ivf_index_build_auto",
        lambda: ivf_index_write(emb, ivf_path, n_cells=None, id_col="vec_id") and None,
    )
    indexed, centroids = ivf_index_load(spark, ivf_path)
    checks["ivf_cells_built"] = len(centroids)
    timed(
        "ann_ivf_probe",
        lambda: ivf_topk(queries, indexed, centroids, k=5, nprobe=8, id_col="vec_id").count(),
    )

    # --- r14: incremental IVF append (VERDICT r13 #3) ------------------------
    # Batch = a duplicate slice (existing vectors under new ids → rows in
    # those vectors' cells) + a shifted slice (guaranteed-fresh vectors →
    # argmin assignment under the STORED centroids). Ground truths: the
    # index grows by exactly one row per batch rep; every fresh vector
    # lands and is findable at rank 1 / score 1.0 by its own vector;
    # re-append is a fingerprint no-op (the committed-fixture stability
    # property, timed to show the steady-state cost).
    # The append runs on a COPY: semantic_dedup and the decontamination tier
    # below still probe the pristine index (their replica ground truths
    # assume the un-appended corpus).
    from mcp_synaptic_spark.operators.similarity import ivf_index_append

    append_path = f"{SCRATCH}/ivf_index_append"
    shutil.rmtree(append_path, ignore_errors=True)
    shutil.copytree(ivf_path, append_path)
    ivf_path_orig, ivf_path = ivf_path, append_path
    n_reps_before = ivf_index_load(spark, ivf_path)[0].count()
    app_dup = emb.where(F.col("vec_id") % 1000 == 1).select(
        (F.col("vec_id") + 990_000_000).alias("vec_id"), "embedding"
    )
    # +0.01 keeps the fresh vectors IN-distribution (distinct from every
    # corpus vector, but near their source): a far shift (+1.5 was tried)
    # is out-of-cloud, where L2-argmin assignment and the probe's cosine
    # routing legitimately disagree and self-recall becomes a
    # routing-metric coin flip instead of the append guarantee under test
    app_fresh = emb.where(F.col("vec_id") % 1000 == 3).select(
        (F.col("vec_id") + 995_000_000).alias("vec_id"),
        F.expr("transform(embedding, x -> cast(x + 0.01 as float))").alias("embedding"),
    )
    batch = app_dup.unionByName(app_fresh)
    info = timed(
        "ivf_index_append_10x", lambda: ivf_index_append(batch, ivf_path, id_col="vec_id")
    )
    n_fresh_distinct = app_fresh.select("embedding").distinct().count()
    indexed2, centroids2 = ivf_index_load(spark, ivf_path)
    checks["append_adds_one_row_per_batch_rep"] = bool(
        indexed2.count() == n_reps_before + info["fresh_reps"] + info["known_reps"]
    )
    checks["append_fresh_reps_exact"] = bool(info["fresh_reps"] == n_fresh_distinct)
    checks["append_keeps_centroids"] = bool(centroids2 == centroids)
    probe_q = app_fresh.limit(1).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    # nprobe=4, not 1: append assigns by exact L2 argmin while ivf_topk
    # routes probes by cosine, so the vector's own cell need not be the
    # single nearest-by-cosine cell (the same L2-assign/cos-probe split the
    # KMeans-built index has) — a few probed cells make self-recall the
    # design guarantee being checked, not a routing-metric coin flip
    top = ivf_topk(probe_q, indexed2, centroids2, k=1, nprobe=4, id_col="vec_id").collect()
    checks["append_fresh_vector_findable"] = bool(
        top and top[0]["vec_id"] == top[0]["qid"] and top[0]["score"] == 1.0
    )
    re_info = timed(
        "ivf_index_reappend_noop",
        lambda: ivf_index_append(batch, ivf_path, id_col="vec_id"),
    )
    checks["append_reapply_is_noop"] = bool(re_info["skipped"])
    ivf_path = ivf_path_orig

    brp_path = f"{SCRATCH}/brp_index"
    shutil.rmtree(brp_path, ignore_errors=True)
    with open(os.path.join(REPO, ".brp_cache", "brp_seed42_d64_t3.json")) as f:
        planes = json.load(f)
    timed(
        "mllib_lsh_index_build",
        lambda: mllib_lsh_index_write(emb, brp_path, planes, id_col="vec_id"),
    )
    bidx, bplanes, bl = mllib_lsh_index_load(spark, brp_path)
    timed(
        "ann_mllib_probe",
        lambda: mllib_lsh_topk_indexed(
            queries, bidx, bplanes, k=5, bucket_length=bl, id_col="vec_id"
        ).count(),
    )

    # --- r14: BRP index append — O(batch), no merge, no rewrite -------------
    # Ground truth is the strongest available: the appended index must be
    # PROBE-BYTE-IDENTICAL to a full rebuild over (corpus ∪ batch) with the
    # same planes (the BRP fit is only a data-independent plane draw).
    # Batch reuses the IVF append's shape: duplicate vectors under new ids
    # (probe-equivalence of unmerged duplicate rep rows is the operator's
    # claim) plus guaranteed-fresh shifted vectors.
    from mcp_synaptic_spark.operators.similarity import mllib_lsh_index_append

    brp_app_path = f"{SCRATCH}/brp_index_append"
    shutil.rmtree(brp_app_path, ignore_errors=True)
    shutil.copytree(brp_path, brp_app_path)
    app_info = timed(
        "mllib_lsh_index_append_10x",
        lambda: mllib_lsh_index_append(batch, brp_app_path, id_col="vec_id"),
    )
    checks["brp_append_ran"] = bool(not app_info["skipped"] and app_info["appended_reps"] > 0)
    brp_rebuilt = f"{SCRATCH}/brp_index_rebuilt"
    shutil.rmtree(brp_rebuilt, ignore_errors=True)
    timed(
        "mllib_lsh_index_rebuild_audit",
        lambda: mllib_lsh_index_write(
            emb.unionByName(batch), brp_rebuilt, planes, id_col="vec_id"
        ),
    )
    aidx, aplanes, abl = mllib_lsh_index_load(spark, brp_app_path)
    ridx, rplanes, rbl = mllib_lsh_index_load(spark, brp_rebuilt)
    probe_q = queries.limit(200)
    got = sorted(map(tuple, mllib_lsh_topk_indexed(
        probe_q, aidx, aplanes, k=5, bucket_length=abl, id_col="vec_id"
    ).collect()))
    want = sorted(map(tuple, mllib_lsh_topk_indexed(
        probe_q, ridx, rplanes, k=5, bucket_length=rbl, id_col="vec_id"
    ).collect()))
    checks["brp_append_probe_equals_rebuild"] = bool(got == want and got)

    # --- repetition / substring / semantic dedup at 10x ---------------------
    # Replication ground truth: every doc with ≥10 words has 9 verbatim
    # replicas, so EVERY one of its 10-word windows is cross-doc duplicated
    # (dup_window_frac must be exactly 1.0 for all windowed docs); every
    # vector has 9 identical twins that land in the SAME KMeans cell
    # (deterministic assignment), cos 1.0 pairs, identical rounded
    # centroid_sim → the lexicographic keep rule must keep exactly the
    # min-id member of each clique, i.e. remove exactly n·(rep−1)/rep —
    # unless distinct base vectors also exceed the threshold (none do at
    # 0.9 on this corpus; the check is exact equality so a drift shows up).
    from mcp_synaptic_spark.operators.dedup import substring_dup_stats
    from mcp_synaptic_spark.operators.similarity import semantic_dedup
    from mcp_synaptic_spark.operators.text_analysis import repetition_stats

    timed(
        "repetition_stats_10x",
        lambda: repetition_stats(docs).agg(F.sum("n_words")).collect()[0][0],
    )
    sub = substring_dup_stats(docs, n=10).cache()
    n_windowed = timed(
        "dedup_substring_10x",
        lambda: sub.where(F.col("n_windows") > 0).count(),
    )
    n_fully_dup = sub.where(
        (F.col("n_windows") > 0) & (F.col("dup_window_frac") == 1.0)
    ).count()
    checks["substring_windowed_docs"] = n_windowed
    checks["substring_all_windows_duplicated"] = bool(n_windowed == n_fully_dup)
    sub.unpersist()

    # span removal: every rep>0 doc's windows all exist in its rep-0 twin
    # (smaller id) → non-keeper everywhere → the doc MUST collapse to empty;
    # that is exactly n_docs·(rep−1)/rep docs. Token conservation holds by
    # construction (kept + dropped = total words).
    from mcp_synaptic_spark.operators.dedup import substring_dedup_apply

    applied = substring_dedup_apply(docs, n=10).cache()
    n_empty = timed(
        "dedup_substring_apply_10x",
        lambda: applied.where(F.col("clean_text") == "").count(),
    )
    total_words_in = docs.select(
        F.sum(
            F.when(F.trim("text") == "", 0).otherwise(F.size(F.split(F.trim("text"), r"\s+")))
        ).alias("s")
    ).collect()[0]["s"]
    kept_plus_dropped = applied.select(
        F.sum(F.col("n_words_kept") + F.col("n_words_dropped")).alias("s")
    ).collect()[0]["s"]
    checks["substring_apply_empty_docs"] = n_empty
    checks["substring_apply_replicas_collapse"] = bool(n_empty >= n_docs * (rep - 1) // rep)
    checks["substring_apply_words_conserved"] = bool(total_words_in == kept_plus_dropped)
    applied.unpersist()

    sem = semantic_dedup(indexed, centroids, threshold=0.9, id_col="vec_id").cache()
    n_sem_removed = timed("dedup_semantic_10x", lambda: sem.where("removed").count())
    checks["semantic_removed"] = n_sem_removed
    checks["semantic_removes_exact_replicas"] = bool(
        n_sem_removed == n_emb - n_emb // rep
    )
    sem.unpersist()

    # --- semantic decontamination + sequence packing at 10x -----------------
    # Ground truth: the replicated corpus spreads each base vector's 10
    # copies across different vec_id % 97 classes, so eval items (% 97 == 0)
    # have byte-identical twins sitting in train — every such twin MUST be
    # flagged at any threshold ≤ 1.0 (cosine exactly 1.0). Packing must
    # conserve tokens: per shard, the last doc's start_offset + n_tokens
    # equals the shard's token sum.
    from mcp_synaptic_spark.operators.pipeline import pack_sequences, semantic_decontaminate

    tr_emb = emb.where(F.col("vec_id") % 97 != 0)
    ev_emb = emb.where(F.col("vec_id") % 97 == 0)
    # r9: record the router's decision at this shape and time BOTH forced
    # arms, so every artifact carries the crossover data the router's
    # constants were fitted from (VERDICT r8 #5)
    from mcp_synaptic_spark.operators.pipeline import semantic_route

    n_tr, n_ev = tr_emb.count(), ev_emb.count()
    checks["semantic_auto_route"] = semantic_route(n_tr, n_ev)
    if rep <= 10:
        # the forced-exact audit arm is ~2.3e-6 s/pair (measured): fine at
        # 4e6 pairs, ~15 min at the 100x shape — record it where affordable
        n_flagged_exact = timed(
            "decontaminate_semantic_exact_forced",
            lambda: semantic_decontaminate(
                tr_emb, ev_emb, threshold=0.9, candidates="exact"
            ).count(),
        )
        checks["semantic_exact_flagged"] = n_flagged_exact
    flagged_sem = semantic_decontaminate(tr_emb, ev_emb, threshold=0.9).cache()
    n_flagged_sem = timed("decontaminate_semantic_10x", lambda: flagged_sem.count())
    checks["semantic_decontaminate_flagged"] = n_flagged_sem
    # exact-twin recall: train vectors byte-equal to some eval vector
    twins = (
        tr_emb.select("vec_id", "embedding")
        .join(ev_emb.select(F.col("embedding").alias("embedding")).distinct(), "embedding")
        .select("vec_id")
        .distinct()
    )
    n_twins = twins.count()
    missed = twins.join(flagged_sem.select("vec_id"), "vec_id", "left_anti").count()
    checks["semantic_decontaminate_twins"] = n_twins
    checks["semantic_decontaminate_catches_all_twins"] = bool(missed == 0 and n_twins > 0)
    flagged_sem.unpersist()

    # LSH candidate path: flagged ⊆ exact at the same threshold, and byte-
    # identical twins are bucket-certain — so at threshold 0.9 on THIS corpus
    # (only exact twins clear 0.9) the LSH flag set must equal the exact one
    flagged_lsh = semantic_decontaminate(
        tr_emb, ev_emb, threshold=0.9, candidates="lsh"
    ).cache()
    n_flagged_lsh = timed("decontaminate_semantic_lsh_10x", lambda: flagged_lsh.count())
    missed_lsh = twins.join(flagged_lsh.select("vec_id"), "vec_id", "left_anti").count()
    checks["semantic_decontaminate_lsh_flagged"] = n_flagged_lsh
    checks["semantic_decontaminate_lsh_catches_all_twins"] = bool(
        missed_lsh == 0 and n_flagged_lsh == n_flagged_sem
    )
    flagged_lsh.unpersist()

    packed = pack_sequences(docs, window_tokens=2048, n_shards=32).cache()
    n_packed = timed("pack_sequences_10x", lambda: packed.count())
    per_shard = packed.groupBy("shard").agg(
        F.max(F.col("start_offset") + F.col("n_tokens")).alias("end_max"),
        F.sum("n_tokens").alias("tok_sum"),
    )
    checks["pack_rows_ok"] = bool(n_packed == n_docs)
    checks["pack_tokens_conserved"] = bool(
        per_shard.where(F.col("end_max") != F.col("tok_sum")).count() == 0
    )
    packed.unpersist()

    # --- memory tier at 10x -------------------------------------------------
    from mcp_synaptic_spark.operators.memory import memory_stats, upsert_by_key
    from mcp_synaptic_spark.sources.memories import NOW_TS, memories_from_events

    mem = memories_from_events(load_table(spark, SF_DIR, "events"))
    reps = spark.range(rep).select(F.col("id").alias("rep"))
    big_mem = (
        mem.crossJoin(F.broadcast(reps))
        .withColumn("key", F.concat_ws("-", F.col("key"), F.col("rep")))
        .drop("rep")
    )
    big_mem.write.mode("overwrite").parquet(f"{SCRATCH}/memories")
    big_mem = spark.read.parquet(f"{SCRATCH}/memories")
    n_mem = big_mem.count()
    checks["n_memories"] = n_mem

    updates = big_mem.limit(n_mem // 100).withColumn("metadata", F.lit("updated"))
    timed("memory_upsert_10x", lambda: upsert_by_key(big_mem, updates).count())
    now_col = F.to_timestamp(F.lit(NOW_TS))
    timed("memory_stats_10x", lambda: memory_stats(big_mem, now_col).count())

    # --- pipeline tier at 10x ----------------------------------------------
    # Replication makes every base text a 10-replica exact-dup clique, so the
    # pair graph is dominated by dense components — exactly the shape the
    # HashMin convergence claim (rounds ≈ diameter, tiny for cliques) relies
    # on. Decontamination ground truth: every eval doc's 9 replicas sit in
    # train as exact copies, so each must be flagged.
    from mcp_synaptic_spark.operators.clustering import connected_components, dedup_corpus
    from mcp_synaptic_spark.operators.pipeline import (
        cap_per_source,
        dedup_lines,
        hash_split,
        ngram_decontaminate,
        pii_redact,
        stratified_sample_exact,
        stratified_sample_threshold,
        weighted_source_sample,
    )

    # r13 (VERDICT r12 next-round #5): the pairs-API arms (connected
    # components + dedup_corpus over the EXPANDED clique graph) are the
    # AUDIT shape — they re-derive what the fused operator computes on the
    # rep-grain skeleton, and at crawl duplication their cost is inherent
    # to the API shape (note 115's A/B brackets them at 54–121 s at 100× on
    # identical code). Record them at rep<=10 only, where the fused==unfused
    # ground-truth equality is still exercised; the 100× artifact carries
    # the fused operator alone as the production line.
    if rep <= 10:
        pairs = minhash_lsh_pairs(docs, threshold=0.5, max_bucket=200)
        comp = timed(
            "cc_cluster_10x_audit",
            lambda: connected_components(pairs).cache(),
        )
        cc_vertices = comp.count()
        cc_components = comp.select("component").distinct().count()
        checks["cc_vertices"] = cc_vertices
        checks["cc_components"] = cc_components
        # every clustered doc's label must be the min member — spot-invariant:
        # no vertex may carry a label larger than its own id
        checks["cc_minlabel_ok"] = bool(
            comp.where(F.col("component") > F.col("id")).limit(1).count() == 0
        )
        n_kept_unfused = timed(
            "cc_dedup_corpus_10x_audit",
            lambda: dedup_corpus(docs, minhash_lsh_pairs(docs, threshold=0.5, max_bucket=200)).count(),
        )
        comp.unpersist()
    else:
        n_kept_unfused = None

    # r12: the fused corpus dedup (clustering.dedup_corpus_minhash) — label
    # propagation on the rep-grain skeleton, never materializing the
    # expanded clique graph. Ground truth: the keep COUNT equals the
    # unfused composition's exactly (the keep SETS are equal by the min-id
    # argument; equality is byte-pinned in tests/test_clustering.py). At
    # rep>10 the count is still ground-truthed against the replication
    # arithmetic: distinct base texts each keep exactly their min member.
    from mcp_synaptic_spark.operators.clustering import dedup_corpus_minhash

    n_kept_fused = timed(
        "cc_dedup_corpus_fused_10x",
        lambda: dedup_corpus_minhash(docs, threshold=0.5, max_bucket=200).count(),
    )
    if n_kept_unfused is not None:
        checks["fused_dedup_corpus_equals_unfused"] = bool(n_kept_fused == n_kept_unfused)
    checks["fused_dedup_keep_count"] = n_kept_fused

    n_eval = docs.where(F.col("doc_id") % 10_000_000 % 97 == 0).count()
    flagged = timed(
        "decontaminate_10x",
        lambda: ngram_decontaminate(
            docs.where(F.col("doc_id") % 10_000_000 % 97 != 0),
            docs.where(F.col("doc_id") % 10_000_000 % 97 == 0),
            n=4,
        ).count(),
    )
    checks["decontaminate_flagged"] = flagged
    checks["decontaminate_catches_replicas"] = bool(flagged >= n_eval * (rep - 1) // rep)

    split_counts = timed(
        "hash_split_10x",
        lambda: {
            r["split"]: r["n"]
            for r in hash_split(docs).groupBy("split").agg(F.count("*").alias("n")).collect()
        },
    )
    checks["hash_split_train_frac"] = round(split_counts["train"] / n_docs, 4)
    timed(
        "stratified_sample_exact_10x",
        lambda: stratified_sample_exact(docs, frac=0.2, by="lang").count(),
    )
    timed(
        "stratified_sample_threshold_10x",
        lambda: stratified_sample_threshold(docs, frac=0.2).count(),
    )
    timed(
        "pii_redact_10x",
        lambda: pii_redact(docs).agg(F.sum("n_redacted")).collect()[0][0],
    )
    timed(
        "dedup_lines_10x",
        lambda: dedup_lines(docs).agg(F.sum(F.length("clean_text"))).collect()[0][0],
    )
    n_capped = timed("source_cap_10x", lambda: cap_per_source(docs, cap=1000).count())
    if rep >= 4:  # below rep=4 no source exceeds the cap — nothing to check
        # 20 sources x 250·rep docs each, all over the cap -> exactly 20 x 1000
        checks["source_cap_exact"] = bool(n_capped == 20 * 1000)
    timed(
        "source_mix_10x",
        lambda: weighted_source_sample(docs, {"src0": 0.5, "src1": 0.0}).count(),
    )

    # --- r8: auto-switch defaults route to the scale path at 10x ------------
    # dedup_embedding's default must pick LSH here (N² = 4e8 > ceiling) and
    # still find every replicated pair (byte-identical vectors are
    # bucket-certain); timing must be LSH-like, not the N² cliff.
    from mcp_synaptic_spark.operators.dedup import embedding_near_dup_pairs

    n_auto = timed(
        "dedup_embedding_auto_10x",
        lambda: embedding_near_dup_pairs(emb, threshold=0.9, dim=64).count(),
    )
    checks["embedding_auto_routes_lsh_recall"] = bool(n_auto == pairs_goal)

    flagged_auto = semantic_decontaminate(tr_emb, ev_emb, threshold=0.9).cache()
    n_flagged_auto = timed(
        "decontaminate_semantic_auto_10x", lambda: flagged_auto.count()
    )
    # r9 router: auto resolves per the measured cost model (lsh at the 10x
    # shape, exact at the 100x shape) and loses none of the byte-identical
    # twins; on THIS corpus only exact twins clear 0.9, so both arms flag
    # the identical set and the equality check is route-independent
    missed_auto = twins.join(flagged_auto.select("vec_id"), "vec_id", "left_anti").count()
    checks["semantic_decontaminate_auto_catches_all_twins"] = bool(
        missed_auto == 0 and n_flagged_auto == n_flagged_lsh
    )
    # artifact evidence for "auto <= min(exact, lsh) within noise": compare
    # the auto timing against the faster forced arm (2x = this box's
    # measured shuffle-noise band); at rep>10 only the lsh arm is recorded
    # (forced exact is gated as unaffordable there — which is itself the
    # routing evidence)
    t_auto = timings["decontaminate_semantic_auto_10x"]
    t_best = min(
        timings.get("decontaminate_semantic_exact_forced", float("inf")),
        timings["decontaminate_semantic_lsh_10x"],
    )
    checks["semantic_auto_within_noise_of_best"] = bool(t_auto <= 2.0 * t_best)
    flagged_auto.unpersist()

    # --- r8: two-star CC equivalence on the real 10x pair graph -------------
    # r13: same audit-tier gating as the HashMin/dedup_corpus pairs-API arms
    # above — the expanded clique graph is the audit shape, recorded at
    # rep<=10 only (where cc_vertices exists for the equality check)
    if rep <= 10:
        from mcp_synaptic_spark.operators.clustering import connected_components_twostar

        ts_comp = timed(
            "cc_twostar_10x_audit",
            lambda: connected_components_twostar(
                minhash_lsh_pairs(docs, threshold=0.5, max_bucket=200)
            ).cache(),
        )
        hm_comp = connected_components(
            minhash_lsh_pairs(docs, threshold=0.5, max_bucket=200)
        )
        n_label_mismatch = (
            ts_comp.join(hm_comp.withColumnRenamed("component", "hm"), "id")
            .where(F.col("component") != F.col("hm"))
            .limit(1)
            .count()
        )
        checks["cc_twostar_equals_hashmin"] = bool(
            n_label_mismatch == 0 and ts_comp.count() == cc_vertices
        )
        ts_comp.unpersist()

    # --- r8: SQ8 + ADC at 10x ------------------------------------------------
    # Ground truth: the query vector (vec_id 0) has `rep` byte-identical
    # replicas in the corpus. Identical vectors get identical codes, so ADC
    # must rank exactly those `rep` ids on top with ONE shared score; the
    # score is cosine(dequantized, exact) < 1.0 by the quantization error,
    # which 8 bits bounds near 1 (≥ 0.999 on this corpus).
    from mcp_synaptic_spark.operators.similarity import (
        ann_quantized_topk,
        quantize_embeddings,
    )

    qrow = emb.where(F.col("vec_id") == 0).select(F.col("embedding").alias("qv"))
    qtop = timed(
        "ann_quantized_topk_10x",
        lambda: ann_quantized_topk(quantize_embeddings(emb), qrow, k=rep).collect(),
    )
    checks["sq8_replicas_rank_top_with_shared_score"] = bool(
        len(qtop) == rep
        and {r.vec_id for r in qtop} == {i * 10_000_000 for i in range(rep)}
        and len({r.qcos for r in qtop}) == 1
        and qtop[0].qcos >= 0.999
    )

    # --- r8: BM25 scale near-invariance --------------------------------------
    # 10x replication multiplies N and every df by rep while tf/dl are
    # unchanged, so the idf RATIO (N - df)/df is preserved and every doc
    # score is invariant up to the +0.5 smoothing terms (which do not
    # scale); with df in the hundreds the residual is O(1e-3). The 10x top
    # score must match the base top score within that bound — a strong
    # whole-pipeline check (tokenization, df, dl, fold order all agree).
    from mcp_synaptic_spark.operators.retrieval import bm25_search

    bm_query = "dup hash join vector"
    # r14 (VERDICT r13 #6, the cc-arms pattern): the direct corpus-scan BM25
    # forms are AUDIT shapes — the production line is the persisted-index
    # probe below. Record the scan arms and the probe-vs-direct equality at
    # rep<=10 only; the 100× artifact carries build + probe alone.
    if rep <= 10:
        top10x = timed(
            "bm25_search_10x", lambda: bm25_search(docs, bm_query, k=1).collect()
        )
        top_base = bm25_search(load_table(spark, SF_DIR, "documents"), bm_query, k=1).collect()
        checks["bm25_score_scale_invariant_1e2"] = bool(
            top10x and abs(top10x[0].bm25 - top_base[0].bm25) < 1e-2
        )

    # --- r9: persisted BM25 index — build once, probe per query --------------
    # (VERDICT r8 next-round #2: per-query corpus stats recompute was the
    # one retrieval tier without a build/probe split.) The probe must
    # return the per-query form's rows exactly, and the per-query cost
    # must drop by the Σdf-vs-corpus-scan ratio; build cost amortizes over
    # every subsequent keyword query.
    from mcp_synaptic_spark.operators.bm25_index import (
        bm25_index_write,
        bm25_search_indexed,
    )

    bm25_path = f"{SCRATCH}/bm25_index"
    shutil.rmtree(bm25_path, ignore_errors=True)
    timed("bm25_index_build", lambda: bm25_index_write(docs, bm25_path, overwrite=True))
    bm_queries = ["dup hash join vector", "memory vector", "the data hash dup join"]
    t0 = time.perf_counter()
    probe_rows = [
        bm25_search_indexed(spark, bm25_path, q, k=10).collect() for q in bm_queries
    ]
    t_probe = (time.perf_counter() - t0) / len(bm_queries)
    timings["bm25_probe_per_query"] = round(t_probe, 3)
    # warm twin (r16, additive — the cold arm above keeps its pre-r16
    # semantics for cross-round comparison): a FIRST probe of a novel query
    # string pays driver-side plan+codegen compile (~2 s measured — the
    # per-term pivot generates query-specific code), which at this tier is
    # the SAME order as the data work and drowns the index-vs-scan signal
    # (r15 `bm25_probe_speedup` 0.72 read as "index loses"; isolated warm
    # A/B: probe 0.51-0.66 s/q vs direct 2.3-2.4 s/q = 3.5-4.7x). A second
    # pass of the same queries measures the PLAN — bench.py's min-of-2
    # rationale; legal here because the probe arms are stateless reads.
    t0 = time.perf_counter()
    for q in bm_queries:
        bm25_search_indexed(spark, bm25_path, q, k=10).collect()
    t_probe_w = (time.perf_counter() - t0) / len(bm_queries)
    timings["bm25_probe_per_query_warm"] = round(t_probe_w, 3)
    timings["bm25_probe_per_query_min2"] = round(min(t_probe, t_probe_w), 3)
    if rep <= 10:
        # audit arm: the direct per-query corpus scan, plus the equality and
        # speedup checks against it (the note-126 interleaved A/B pinned the
        # probe's scale behavior; at 100× the direct scan is the shape this
        # index exists to avoid)
        t0 = time.perf_counter()
        direct_rows = [bm25_search(docs, q, k=10).collect() for q in bm_queries]
        t_direct = (time.perf_counter() - t0) / len(bm_queries)
        timings["bm25_search_per_query"] = round(t_direct, 3)
        t0 = time.perf_counter()
        for q in bm_queries:
            bm25_search(docs, q, k=10).collect()
        t_direct_w = (time.perf_counter() - t0) / len(bm_queries)
        timings["bm25_search_per_query_warm"] = round(t_direct_w, 3)
        timings["bm25_search_per_query_min2"] = round(min(t_direct, t_direct_w), 3)
        checks["bm25_probe_equals_direct"] = bool(
            all(
                [tuple(r) for r in p] == [tuple(r) for r in d]
                for p, d in zip(probe_rows, direct_rows)
            )
        )
        checks["bm25_probe_speedup"] = round(t_direct / max(t_probe, 1e-9), 2)
        checks["bm25_probe_speedup_warm"] = round(
            min(t_direct, t_direct_w) / max(min(t_probe, t_probe_w), 1e-9), 2
        )

    # --- r15: incremental BM25 index append (VERDICT r14 #5) -----------------
    # Base = 80% of docs, append the held-out 20%: O(batch-tokens), no base
    # re-scan; the appended index must probe byte-identical to the full
    # rebuild already timed above (bm25_index_build over ALL docs), and a
    # replayed batch must be a fingerprint no-op. The rebuild cost the
    # append avoids IS bm25_index_build — the comparison rides the same
    # artifact line.
    from mcp_synaptic_spark.operators.bm25_index import bm25_index_append

    bm25_app_path = f"{SCRATCH}/bm25_index_append"
    shutil.rmtree(bm25_app_path, ignore_errors=True)
    bm25_index_write(docs.where(F.col("doc_id") % 5 != 0), bm25_app_path, overwrite=True)
    app_batch = docs.where(F.col("doc_id") % 5 == 0)
    app_info = timed(
        "bm25_index_append_10x", lambda: bm25_index_append(app_batch, bm25_app_path)
    )
    checks["bm25_append_no_overlap"] = bool(app_info["n_overlap"] == 0)
    app_rows = [
        bm25_search_indexed(spark, bm25_app_path, q, k=10).collect() for q in bm_queries
    ]
    checks["bm25_append_probe_equals_rebuild"] = bool(
        all(
            [tuple(r) for r in a] == [tuple(r) for r in p]
            for a, p in zip(app_rows, probe_rows)
        )
    )
    reapp = timed(
        "bm25_index_reappend_noop_10x", lambda: bm25_index_append(app_batch, bm25_app_path)
    )
    checks["bm25_reappend_is_noop"] = bool(reapp["skipped"])

    # --- r9: token-budget selection — two-phase == global window, exactly ----
    # The replicated corpus is tie-heavy (every base doc's `rep` copies share
    # one quality score), the hard case for deterministic prefix selection.
    # Ground truth is the naive global running-sum window (the oracle twin;
    # single-partition, acceptable as a one-off audit here and exactly what
    # the operator exists to avoid in production plans).
    from pyspark.sql import Window as W

    from mcp_synaptic_spark.operators.pipeline import select_token_budget
    from mcp_synaptic_spark.operators.text_analysis import quality_score

    scored_docs = quality_score(docs).cache()
    total_tokens = int(scored_docs.agg(F.sum("n_words")).collect()[0][0])
    budget = total_tokens // 2
    sel = select_token_budget(scored_docs, budget).cache()
    n_sel = timed("token_budget_select_10x", lambda: sel.count())
    gw = (
        W.orderBy(F.col("quality_score").desc(), F.col("doc_id").asc())
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    brute = (
        scored_docs.withColumn("_c", F.sum("n_words").over(gw))
        .where(F.col("_c") <= budget)
        .select("doc_id", "n_words", "quality_score")
    ).cache()
    sel_sig = sel.agg(
        F.count("*").alias("n"), F.sum("n_words").alias("t"),
        F.sum(F.pmod(F.xxhash64("doc_id"), F.lit(1_000_000_007))).alias("h")
    ).collect()[0]
    brute_sig = brute.agg(
        F.count("*").alias("n"), F.sum("n_words").alias("t"),
        F.sum(F.pmod(F.xxhash64("doc_id"), F.lit(1_000_000_007))).alias("h")
    ).collect()[0]
    checks["token_budget_selected"] = n_sel
    checks["token_budget_matches_global_window"] = bool(tuple(sel_sig) == tuple(brute_sig))
    checks["token_budget_within_budget"] = bool(sel_sig["t"] is not None and sel_sig["t"] <= budget)
    sel.unpersist(); brute.unpersist(); scored_docs.unpersist()

    # --- r9: admit_stream per-batch cost curve (VERDICT r8 next-round #8) ----
    # The composed service loop measured end-to-end: screen + append over
    # successive micro-batches against the GROWING persisted index. Each
    # batch holds 900 novel docs + 100 copies of the PREVIOUS batch's
    # admissions, so cross-batch admission is exercised every step: the
    # copies must flag exact_dup against an index that only contains their
    # originals because the previous batch appended them.
    from mcp_synaptic_spark.operators.dedup import dedup_index_write
    from mcp_synaptic_spark.streaming.ingest import admit_stream

    admit_idx = f"{SCRATCH}/admit_index"
    shutil.rmtree(admit_idx, ignore_errors=True)
    timed("admit_index_build", lambda: dedup_index_write(docs, admit_idx))
    arrivals_dir = f"{SCRATCH}/admit_arrivals"
    ckpt_dir = f"{SCRATCH}/admit_ckpt"
    shutil.rmtree(arrivals_dir, ignore_errors=True)
    shutil.rmtree(ckpt_dir, ignore_errors=True)
    n_batches, batch_new = 5, 900

    def novel_batch(b):
        return spark.range(batch_new).select(
            (F.lit(700_000_000 + b * 10_000) + F.col("id")).alias("doc_id"),
            F.concat_ws(
                " ",
                F.lit(f"novel arrival batch{b}"),
                F.concat(F.lit("alpha"), F.col("id")),
                F.concat(F.lit("beta"), F.col("id")),
                F.concat(F.lit("gamma"), F.col("id")),
                F.concat(F.lit(f"delta{b}x"), F.col("id")),
            ).alias("text"),
        )

    for b in range(n_batches):
        batch = novel_batch(b)
        if b > 0:
            batch = batch.unionAll(
                novel_batch(b - 1)
                .limit(100)
                .select((F.col("doc_id") + 5_000).alias("doc_id"), "text")
            )
        batch.coalesce(1).write.mode("append").parquet(arrivals_dir)

    batch_marks: list[float] = []
    batch_verdicts: list[dict] = []

    def admit_sink(vd, bid):
        counts = {r["verdict"]: r["n"] for r in vd.groupBy("verdict").agg(F.count("*").alias("n")).collect()}
        batch_verdicts.append(counts)
        batch_marks.append(time.perf_counter())

    t_start = time.perf_counter()
    q = admit_stream(
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(arrivals_dir),
        None,
        admit_sink,
        checkpoint=ckpt_dir,
        index_path=admit_idx,
        append_admitted=True,
    )
    q.awaitTermination(1200)
    per_batch = [
        round(m - (batch_marks[i - 1] if i else t_start), 3)
        for i, m in enumerate(batch_marks)
    ]
    timings["admit_stream_total"] = round(sum(per_batch), 3)
    checks["admit_per_batch_sec"] = per_batch
    checks["admit_batches_run"] = len(per_batch)
    total_admitted = sum(c.get("admitted", 0) for c in batch_verdicts)
    total_dup = sum(c.get("exact_dup", 0) for c in batch_verdicts)
    # every novel doc admitted once; every cross-batch copy caught against
    # the grown index (first batch has no copies: 4x100 dups expected)
    checks["admit_cross_batch_dups_caught"] = bool(
        total_admitted == n_batches * batch_new
        and total_dup == (n_batches - 1) * 100
    )

    # --- r8: incremental ingestion screen at 10x -----------------------------
    # Ground truth: a batch of re-labeled copies of base docs must come back
    # 100% exact_dup against the replicated corpus; word-reversed texts are
    # the novel/near mixture (whatever the truth is, the screen must agree
    # with itself — every verdict row exists and copies are never admitted).
    from mcp_synaptic_spark.operators.dedup import dedup_incremental

    base_docs = load_table(spark, SF_DIR, "documents")
    inc_batch = base_docs.limit(1000).select(
        (F.col("doc_id") + 500_000_000).alias("doc_id"), "text"
    ).unionAll(
        base_docs.limit(1000).select(
            (F.col("doc_id") + 600_000_000).alias("doc_id"),
            F.array_join(F.reverse(F.split(F.trim(F.col("text")), r"\s+")), " ").alias("text"),
        )
    )
    inc = dedup_incremental(docs, inc_batch, threshold=0.5, max_bucket=200).cache()
    timed("dedup_incremental_10x", lambda: inc.count())
    n_copies_admitted = inc.where(
        (F.col("doc_id") < 600_000_000) & (F.col("verdict") != "exact_dup")
    ).count()
    checks["incremental_copies_all_exact_dup"] = bool(n_copies_admitted == 0)
    checks["incremental_batch_rows"] = inc.count()
    inc.unpersist()

    # --- r8: txn checkpoint lifecycle at 1M rows -----------------------------
    from mcp_synaptic_spark.state import txn as txn_mod
    from mcp_synaptic_spark.state.txn import TxnTable

    txn_root = f"{SCRATCH}/txn_ckpt"
    shutil.rmtree(txn_root, ignore_errors=True)

    def txn_ckpt_run():
        t = TxnTable.create(spark, txn_root, big_mem, checkpoint_interval=2)
        versions = [
            t.upsert(big_mem.limit(1000).withColumn("metadata", F.lit(f"u{i}")))
            for i in range(4)
        ]
        cleaned = t.clean_log()
        t.vacuum(keep_from_version=t.version())
        return t.read().count(), len(cleaned), versions

    n_after, n_cleaned, versions = timed("txn_ckpt_1m", txn_ckpt_run)
    # four upsert commits (threshold compactions may take versions between)
    checks["txn_ckpt_state_ok"] = bool(
        n_after == n_mem and versions == sorted(set(versions)) and n_cleaned >= 3
    )

    # --- merge-on-read resolution on the same table --------------------------
    # Four more limit(1000) batches, each one delta: the read resolves them
    # through the key-set literal. Ground truths: row count preserved and no
    # duplicate key surfaces through the resolution; after both upsert arms
    # the live deltas stay within the compaction thresholds (every upsert
    # appends one delta, and the winning writer compacts past them).
    def txn_mor_run():
        t = TxnTable(spark, txn_root)
        for i in range(4):
            t.upsert(big_mem.limit(1000).withColumn("metadata", F.lit(f"m{i}")))
        return t.read().count()

    n_mor = timed("txn_mor_upserts4_1m", txn_mor_run)
    t_mor = TxnTable(spark, txn_root)
    n_dup_keys = timed(
        "txn_mor_read_resolve_1m",
        lambda: t_mor.read().groupBy("key").count().where(F.col("count") > 1).count(),
    )
    checks["txn_mor_state_ok"] = bool(n_mor == n_mem and n_dup_keys == 0)
    live = t_mor._read_commit(t_mor.version())["live"]
    deltas = [d for d in live if "keys" in d]
    checks["txn_deltas_within_threshold"] = bool(
        len(deltas) <= txn_mod._MAX_DELTAS
        and sum(len(d["keys"]) for d in deltas) <= txn_mod._key_bound(live)
    )

    # --- temporal + profile tier (new r9): events replicated with offset ----
    # user ids so every replica is an independent population — replication
    # invariance (result counts scale exactly by rep) catches any
    # partitioning/bucketing bug in the shuffle-one-pass implementations.
    from mcp_synaptic_spark.operators.stats import corpus_summary, corpus_summary_approx
    from mcp_synaptic_spark.operators.temporal import asof_join, range_join_agg

    base_ev = load_table(spark, SF_DIR, "events")
    (
        base_ev.crossJoin(F.broadcast(reps))
        .select(
            (F.col("event_id") + F.col("rep") * 1_000_000_000).alias("event_id"),
            "ts",
            (F.col("user_id") + F.col("rep") * 1_000_000).alias("user_id"),
            "event_type",
            "value",
        )
        .write.mode("overwrite")
        .parquet(f"{SCRATCH}/events")
    )
    ev = spark.read.parquet(f"{SCRATCH}/events")
    purchases = ev.where(F.col("event_type") == "purchase")
    clicks = ev.where(F.col("event_type") == "click")
    base_p = base_ev.where(F.col("event_type") == "purchase")
    base_c = base_ev.where(F.col("event_type") == "click")

    asof = asof_join(
        purchases, clicks, by="user_id", right_cols=("value",),
        right_tiebreak="event_id", prefix="click_",
    )
    n_asof, n_asof_matched = timed(
        "events_asof_10x",
        lambda: (
            asof.count(),
            asof.where(F.col("click_ts").isNotNull()).count(),
        ),
    )
    base_asof = asof_join(
        base_p, base_c, by="user_id", right_cols=("value",),
        right_tiebreak="event_id", prefix="click_",
    )
    checks["asof_rows_scale_by_rep"] = bool(n_asof == rep * base_p.count())
    checks["asof_matched_scale_by_rep"] = bool(
        n_asof_matched == rep * base_asof.where(F.col("click_ts").isNotNull()).count()
    )

    rj = range_join_agg(
        purchases, clicks, by="user_id", window_seconds=3600,
        left_id="event_id", aggs=(("count", "*"), ("sum", "value")),
    )
    n_rj, rj_clicks = timed(
        "events_range_join_10x",
        lambda: tuple(
            rj.agg(
                F.count(F.lit(1)).alias("n"), F.sum("n_right").alias("s")
            ).collect()[0]
        ),
    )
    base_rj = range_join_agg(
        base_p, base_c, by="user_id", window_seconds=3600,
        left_id="event_id", aggs=(("count", "*"),),
    )
    checks["range_join_pairs_scale_by_rep"] = bool(
        rj_clicks == rep * base_rj.agg(F.sum("n_right")).collect()[0][0]
    )

    prof = timed("corpus_summary_10x", lambda: corpus_summary(docs).collect()[0])
    prof_a = timed(
        "corpus_summary_approx_10x", lambda: corpus_summary_approx(docs).collect()[0]
    )
    checks["profile_counts_exact"] = bool(
        prof["n_docs"] == n_docs and prof_a["n_docs"] == n_docs
    )
    checks["profile_approx_p50_delta"] = abs(prof_a["p50_words"] - prof["p50_words"])
    checks["profile_approx_sources_ok"] = bool(
        abs(prof_a["n_sources"] - prof["n_sources"]) <= max(2, prof["n_sources"] // 10)
    )

    # --- strings tier: edit-distance join, segment arm at corpus scale -----
    # Ground truth from replication: every pair of docs sharing a 32-char
    # prefix is a distance-0 pair, so the segment arm's dist=0 count must
    # equal sum over prefix groups of C(g, 2) exactly (both arms are exact;
    # the auto router provably picks the segment arm at this shape).
    from mcp_synaptic_spark.operators.strings import (
        AUTO_EXACT_MAX_PAIRS as ED_CEILING,
        edit_distance_pairs_segment,
    )

    ed = edit_distance_pairs_segment(docs, key_len=32, max_distance=2)
    n_ed, n_ed_zero = timed(
        "editdist_segment_10x",
        lambda: tuple(
            ed.agg(
                F.count(F.lit(1)).alias("n"),
                F.count(F.when(F.col("dist") == 0, 1)).alias("z"),
            ).collect()[0]
        ),
    )
    grp = (
        docs.where(F.col("text").isNotNull())
        .groupBy(F.substring("text", 1, 32).alias("p"))
        .count()
        .agg(F.sum(F.col("count") * (F.col("count") - 1)).alias("twice"))
        .collect()[0]
    )
    checks["editdist_pairs"] = n_ed
    checks["editdist_zero_pairs_match_prefix_groups"] = bool(
        n_ed_zero == int(grp["twice"]) // 2
    )
    # the auto-router budgets on DISTINCT truncated keys since r10 (both
    # arms collapse exact dups first) — predict its decision the same way
    n_ed_keys = (
        docs.where(F.col("text").isNotNull())
        .agg(F.approx_count_distinct(F.substring("text", 1, 32)).alias("n"))
        .collect()[0]["n"]
    )
    checks["editdist_auto_routes_segment"] = bool(n_ed_keys * n_ed_keys > ED_CEILING)

    # --- drift tier: replication preserves the even/odd doc_id split (the
    # replica offset rep·10M is even) so bucket FRACTIONS are invariant —
    # per-bucket psi must equal the base corpus's exactly (ratio-based, no
    # rounding-amplification concern) and counts must scale by exactly rep.
    from mcp_synaptic_spark.operators.drift import distribution_drift

    def _drift(frame):
        # the replicated corpus carries no n_chars column — derive it the
        # same way on BOTH sides so the invariance check compares like
        # definitions
        frame = frame.withColumn("n_chars", F.length("text"))
        return distribution_drift(
            frame.where(F.col("doc_id") % 2 == 0),
            frame.where(F.col("doc_id") % 2 == 1),
            value_col="n_chars",
            boundaries=[150, 250, 350, 450],
        )

    drift_rows = timed(
        "corpus_drift_10x", lambda: {r["bucket"]: r for r in _drift(docs).collect()}
    )
    base_drift = {r["bucket"]: r for r in _drift(base_docs).collect()}
    checks["drift_psi_invariant_under_replication"] = bool(
        set(drift_rows) == set(base_drift)
        and all(drift_rows[b]["psi"] == base_drift[b]["psi"] for b in base_drift)
    )
    checks["drift_counts_scale_by_rep"] = bool(
        all(
            drift_rows[b]["n_a"] == base_drift[b]["n_a"] * rep
            and drift_rows[b]["n_b"] == base_drift[b]["n_b"] * rep
            for b in base_drift
        )
    )

    # --- LM tier (r11): ground truth from replication is two-fold. (a) The
    # one-shot self-trained run must produce exactly rep x base rows (every
    # replica has tokens iff its base doc does). (b) Scoring the replicated
    # corpus against the BASE-trained persisted LM (the train-once/
    # score-many path) must reproduce every base doc's (n_tokens, logppl)
    # on every replica — the LM tables are identical inputs, so any drift
    # is a scoring-path bug. logppl compared at 1e-6 (the driver's own
    # rounding grain) because avg() partial-sum order is partitioning-
    # dependent; n_tokens compared exactly. The self-trained rep-corpus
    # logppl is NOT invariant (Laplace smoothing shrinks as counts scale
    # by rep — the LM genuinely sharpens with data); the prefit arm is the
    # invariance carrier.
    from mcp_synaptic_spark.operators.lm import perplexity, train_bigram_lm

    n_lm_rows = timed("lm_perplexity_selftrained", lambda: perplexity(docs).count())
    lm_tabs = tuple(t.persist() for t in train_bigram_lm(base_docs))
    base_lm_df = perplexity(base_docs, lm=lm_tabs)
    n_lm_base = base_lm_df.count()
    checks["lm_rows_scale_by_rep"] = bool(n_lm_rows == rep * n_lm_base)
    scored_rep = perplexity(docs, lm=lm_tabs).withColumn(
        "base_id", F.col("doc_id") % 10_000_000
    )
    base_keyed = base_lm_df.select(
        F.col("doc_id").alias("base_id"),
        F.col("n_tokens").alias("base_n_tokens"),
        F.col("logppl").alias("base_logppl"),
    )
    n_lm_mismatch = timed(
        "lm_score_prefit_base_lm",
        lambda: scored_rep.join(base_keyed, "base_id")
        .where(
            (F.col("n_tokens") != F.col("base_n_tokens"))
            | (F.abs(F.col("logppl") - F.col("base_logppl")) > 1e-6)
        )
        .count(),
    )
    checks["lm_prefit_replicas_match_base"] = bool(n_lm_mismatch == 0)

    # --- r12: composed quality front door (VERDICT r11 next-round #7) ----
    # gate → prefit-LM perplexity filter → incremental dedup screen, per
    # micro-batch against the persisted admit index the admit tier built.
    # Ground truth is two-fold: (a) the streamed per-doc verdicts equal the
    # BATCH composition (quality_admit_verdicts on the same frames against
    # the same static index — pins the foreachBatch wiring; the math of
    # each stage carries its own driver grade), and (b) planted copies of
    # indexed base docs are NEVER 'admitted' (they fail a quality tier or
    # flag exact_dup — either way the front door holds).
    #
    # r13 (VERDICT r12 next-round #6): the stream consumes the PERSISTED LM
    # — lm_write/lm_load round-trip at scale, recipe-marker check included —
    # instead of the in-process tables, so the artifact exercises the full
    # train-once/persist/score-many production shape end-to-end. Ground
    # truth: the loaded tables score identically to the in-memory ones
    # (checked below on the base corpus before the stream starts).
    from mcp_synaptic_spark.operators.lm import lm_load, lm_write
    from mcp_synaptic_spark.streaming.ingest import (
        quality_admit_stream,
        quality_admit_verdicts,
    )

    lm_path = f"{SCRATCH}/lm_tables"
    shutil.rmtree(lm_path, ignore_errors=True)
    timed("lm_write_persisted", lambda: lm_write(lm_tabs, lm_path))
    lm_loaded = lm_load(spark, lm_path)
    n_loaded_mismatch = timed(
        "lm_load_scores_match_inmemory",
        lambda: perplexity(base_docs, lm=lm_loaded)
        .select(F.col("doc_id").alias("base_id"), "n_tokens", "logppl")
        .join(base_keyed, "base_id")
        .where(
            (F.col("n_tokens") != F.col("base_n_tokens"))
            | (F.abs(F.col("logppl") - F.col("base_logppl")) > 1e-6)
        )
        .count(),
    )
    checks["lm_persisted_roundtrip_matches"] = bool(n_loaded_mismatch == 0)

    q_arrivals = f"{SCRATCH}/quality_arrivals"
    q_ckpt = f"{SCRATCH}/quality_ckpt"
    shutil.rmtree(q_arrivals, ignore_errors=True)
    shutil.rmtree(q_ckpt, ignore_errors=True)
    n_qbatches = 3
    for b in range(n_qbatches):
        copies = base_docs.where(F.col("doc_id") % 7 == b).select(
            (F.col("doc_id") + 800_000_000 + b * 1_000_000).alias("doc_id"),
            "text",
            "lang",
        )
        # garbage ids live INSIDE batch b's 1M id block (the twin below
        # recovers batch membership from the block index)
        garbage = spark.range(50).select(
            (F.lit(800_000_000 + b * 1_000_000 + 900_000) + F.col("id")).alias("doc_id"),
            F.lit("zz " * 3).alias("text"),  # too short — gate-rejected
            F.lit("en").alias("lang"),
        )
        copies.unionByName(garbage).coalesce(1).write.mode("append").parquet(q_arrivals)
    q_counts: list[dict] = []

    def q_sink(vd, bid):
        q_counts.append(
            {r["verdict"]: r["n"] for r in vd.groupBy("verdict").agg(F.count("*").alias("n")).collect()}
        )

    ppl_cut = 3.5

    def quality_run():
        qq = quality_admit_stream(
            spark.readStream.schema("doc_id long, text string, lang string")
            .option("maxFilesPerTrigger", 1)
            .parquet(q_arrivals),
            lm_loaded,
            q_sink,
            checkpoint=q_ckpt,
            index_path=admit_idx,
            ppl_cutoff=ppl_cut,
            max_bucket=200,
        )
        qq.awaitTermination(1200)

    timed("quality_admit_stream_total", quality_run)
    from mcp_synaptic_spark.operators.dedup import dedup_index_load

    static_idx = dedup_index_load(spark, admit_idx)
    batch_twin = {}
    for b in range(n_qbatches):
        frame = spark.read.parquet(q_arrivals).where(
            ((F.col("doc_id") - 800_000_000) / 1_000_000).cast("long") == b
        )
        vd = quality_admit_verdicts(
            frame, lm_loaded, index=static_idx, ppl_cutoff=ppl_cut, max_bucket=200
        )
        for r in vd.groupBy("verdict").agg(F.count("*").alias("n")).collect():
            batch_twin[r["verdict"]] = batch_twin.get(r["verdict"], 0) + r["n"]
    stream_total: dict = {}
    for c in q_counts:
        for k, v in c.items():
            stream_total[k] = stream_total.get(k, 0) + v
    checks["quality_stream_equals_batch_composition"] = bool(stream_total == batch_twin)
    checks["quality_verdict_counts"] = stream_total
    checks["quality_no_copy_admitted"] = bool(stream_total.get("admitted", 0) == 0)
    for t in lm_tabs:
        t.unpersist()

    # --- funnel tier: per-user replication ⇒ counts scale exactly by rep ---
    from mcp_synaptic_spark.operators.funnel import funnel

    fn_steps = ("view", "click", "purchase")
    fn_rows = timed(
        "events_funnel_10x",
        lambda: funnel(ev, steps=fn_steps, horizon="1d").collect(),
    )
    base_fn = {
        r["step"]: r["n_users"]
        for r in funnel(base_ev, steps=fn_steps, horizon="1d").collect()
    }
    fn_by_step = {r["step"]: r["n_users"] for r in fn_rows}
    checks["funnel_counts_scale_by_rep"] = bool(
        fn_by_step == {s: rep * n for s, n in base_fn.items()}
    )

    # --- retention tier: replicas carry DISJOINT user ids on the SAME days,
    # so every triangle cell and every DAU/rolling-AU count must scale by
    # exactly rep while retention rates stay bit-identical -----------------
    from mcp_synaptic_spark.operators.retention import (
        cohort_retention,
        rolling_active_users,
        rolling_active_users_sketch,
    )

    tri_rows = timed(
        "events_retention_10x", lambda: cohort_retention(ev).collect()
    )
    tri = {
        (r["cohort_day"], r["day_offset"]): (r["n_users"], r["retention_rate"])
        for r in tri_rows
    }
    base_tri = {
        (r["cohort_day"], r["day_offset"]): (r["n_users"], r["retention_rate"])
        for r in cohort_retention(base_ev).collect()
    }
    checks["retention_counts_scale_by_rep"] = bool(
        tri == {k: (rep * n, rate) for k, (n, rate) in base_tri.items()}
    )
    au_rows = timed(
        "events_active_users_10x",
        lambda: rolling_active_users(ev, window_days=7).collect(),
    )
    au = {r["day"]: (r["dau"], r["rolling_au"]) for r in au_rows}
    base_au = {
        r["day"]: (r["dau"], r["rolling_au"])
        for r in rolling_active_users(base_ev, window_days=7).collect()
    }
    checks["active_users_scale_by_rep"] = bool(
        au == {d: (rep * a, rep * w) for d, (a, w) in base_au.items()}
    )

    # --- r14: rolling-AU HLL sketch tier (VERDICT r13 #4) -------------------
    # The exact plan's shuffle is O(events × window_days) — linear in the
    # window. The sketch plan's event-volume work is ONE day-keyed sketch
    # build, so a 28-day MAU should cost ~the 7-day exact line, not 4× it
    # (the judge's done-criterion: within ~2×). Ground truths at every
    # tier: the observed-day set matches the exact operator's exactly (the
    # clamp is estimate-independent) and per-day dau/rolling_au estimates
    # sit inside the HLL ±5% envelope of the exact 7-day run's dau; the
    # 28-day rolling_au tolerance arm runs the exact 28-day plan only at
    # rep<=10, where its 4× window cost is affordable (audit tier).
    au_sk_rows = timed(
        "events_active_users_28d_sketch",
        lambda: rolling_active_users_sketch(ev, window_days=28).collect(),
    )
    au_sk = {r["day"]: (r["dau"], r["rolling_au"]) for r in au_sk_rows}
    checks["au_sketch_day_set_matches_exact"] = bool(set(au_sk) == set(au))
    checks["au_sketch_dau_within_5pct"] = bool(
        all(
            abs(au_sk[d][0] - dau) <= max(1, 0.05 * dau)
            for d, (dau, _w) in au.items()
            if d in au_sk
        )
    )
    if rep <= 10:
        exact28 = {
            r["day"]: r["rolling_au"]
            for r in rolling_active_users(ev, window_days=28).collect()
        }
        checks["au_sketch_28d_within_5pct_audit"] = bool(
            set(exact28) == set(au_sk)
            and all(
                abs(au_sk[d][1] - w) <= max(1, 0.05 * w) for d, w in exact28.items()
            )
        )

    # --- conversion-lag tier: replica users carry identical event times, so
    # the per-user lag multiset scales by exactly rep -----------------------
    from mcp_synaptic_spark.operators.funnel import conversion_lags

    from collections import Counter

    lag_rows = timed(
        "events_conversion_lag_10x",
        lambda: conversion_lags(
            ev, steps=("view", "click", "purchase"), horizon="1d"
        ).collect(),
    )
    lags = Counter((r["lag_us_1"], r["lag_us_2"], r["lag_us_total"]) for r in lag_rows)
    base_lags = Counter(
        (r["lag_us_1"], r["lag_us_2"], r["lag_us_total"])
        for r in conversion_lags(
            base_ev, steps=("view", "click", "purchase"), horizon="1d"
        ).collect()
    )
    checks["conversion_lag_multiset_scales_by_rep"] = bool(
        lags == Counter({k: rep * n for k, n in base_lags.items()})
    )

    # --- terms tier: replication multiplies tf/df/N by rep but keeps the
    # per-source vocabularies identical, so the tfidf top-k must equal the
    # expectation computed from base aggregates via the formula, and the
    # overlap table must be BIT-IDENTICAL to the base run --------------------
    import math

    from mcp_synaptic_spark.operators.terms import (
        group_vocab_overlap,
        tfidf_terms,
        tokens as term_tokens,
    )

    base_docs = load_table(spark, SF_DIR, "documents")
    got_tfidf = timed(
        "tfidf_terms_10x",
        lambda: tfidf_terms(docs, group_col="lang", top_k=10).collect(),
    )
    btoks = term_tokens(base_docs, extra_cols=("lang", "doc_id"))
    btf = {
        (r["lang"], r["term"]): r["tf"]
        for r in btoks.groupBy("lang", "term").agg(F.count(F.lit(1)).alias("tf")).collect()
    }
    bdf = {
        r["term"]: r["df"]
        for r in btoks.groupBy("term").agg(F.count_distinct("doc_id").alias("df")).collect()
    }
    bn = base_docs.where(F.col("text").isNotNull()).count()
    exp_scored = sorted(
        (
            g,
            t,
            rep * c,
            rep * bdf[t],
            round(rep * c * (math.log((rep * bn + 1) / (rep * bdf[t] + 1)) + 1), 6),
        )
        for (g, t), c in btf.items()
    )
    exp_top = {}
    for g in {g for g, *_ in exp_scored}:
        rows_g = sorted((r for r in exp_scored if r[0] == g), key=lambda r: (-r[4], r[1]))
        exp_top.update(
            {(g, r[1]): (r[2], r[3], r[4], i + 1) for i, r in enumerate(rows_g[:10])}
        )
    got_top = {
        (r["lang"], r["term"]): (r["tf"], r["df"], r["score"], r["rank"])
        for r in got_tfidf
    }
    checks["tfidf_counts_and_ranks_match_expectation"] = bool(
        set(got_top) == set(exp_top)
        and all(
            got_top[k][0] == exp_top[k][0]
            and got_top[k][1] == exp_top[k][1]
            and got_top[k][3] == exp_top[k][3]
            and abs(got_top[k][2] - exp_top[k][2]) <= 1e-6
            for k in exp_top
        )
    )
    ov_rows = timed(
        "source_overlap_10x", lambda: group_vocab_overlap(docs).collect()
    )
    base_ov = sorted(map(tuple, group_vocab_overlap(base_docs).collect()))
    checks["overlap_invariant_under_replication"] = bool(
        sorted(map(tuple, ov_rows)) == base_ov
    )

    # --- anomaly tier: replication multiplies every bucket count by rep, so
    # means scale by rep while z-scores (and the anomaly set) are INVARIANT -
    from mcp_synaptic_spark.operators.temporal import rate_anomalies

    an_rows = timed(
        "events_anomaly_10x", lambda: rate_anomalies(ev).collect()
    )
    an = {
        (r["event_type"], r["bucket_start"]): (
            r["n_events"], r["mean_events"], r["z_score"], r["is_anomaly"],
        )
        for r in an_rows
    }
    base_an = {
        (r["event_type"], r["bucket_start"]): (
            r["n_events"], r["mean_events"], r["z_score"], r["is_anomaly"],
        )
        for r in rate_anomalies(base_ev).collect()
    }
    # mean comparison divides by rep (multiplying the 6dp-rounded base mean
    # by rep amplifies its rounding error past any fixed gate — the r9 100×
    # false negative); z is scale-free so it compares directly
    def _z_eq(a, b):
        # None-safe: one-sided None must record a FAILED check, not crash
        # the harness with abs(None - float)
        if (a is None) != (b is None):
            return False
        return a is None or abs(a - b) <= 1e-5

    checks["anomaly_z_invariant_means_scale_by_rep"] = bool(
        set(an) == set(base_an)
        and all(
            an[k][0] == rep * base_an[k][0]
            and abs(an[k][1] / rep - base_an[k][1]) <= 2e-6
            and _z_eq(an[k][2], base_an[k][2])
            and an[k][3] == base_an[k][3]
            for k in base_an
        )
    )

    # --- embedding-QA tier: screen counts scale by rep; per-dim means are
    # INVARIANT (same vectors, rep× copies) while n scales by rep ----------
    from mcp_synaptic_spark.operators.embedding_qa import dims_profile, embedding_screen

    base_emb = load_table(spark, SF_DIR, "embeddings")
    n_valid = timed(
        "embedding_screen_10x",
        lambda: embedding_screen(emb).where(F.col("is_valid")).count(),
    )
    base_valid = embedding_screen(base_emb).where(F.col("is_valid")).count()
    checks["screen_valid_scales_by_rep"] = bool(n_valid == rep * base_valid)
    dp_rows = timed("dims_profile_10x", lambda: dims_profile(emb).collect())
    dp = {r["dim"]: (r["n"], r["mean_x"], r["is_dead"]) for r in dp_rows}
    base_dp = {
        r["dim"]: (r["n"], r["mean_x"], r["is_dead"])
        for r in dims_profile(base_emb).collect()
    }
    checks["dims_means_invariant_n_scales"] = bool(
        set(dp) == set(base_dp)
        and all(
            dp[d][0] == rep * base_dp[d][0]
            and abs(dp[d][1] - base_dp[d][1]) <= 2e-6
            and dp[d][2] == base_dp[d][2]
            for d in base_dp
        )
    )

    # --- text-QA tier: identical docs ×rep ⇒ per-row verdicts replicate,
    # so row/suspect/char totals all scale by exactly rep ------------------
    from mcp_synaptic_spark.operators.text_qa import text_screen

    ts_totals = timed(
        "text_screen_10x",
        lambda: tuple(
            text_screen(docs)
            .agg(
                F.count(F.lit(1)).alias("rows"),
                F.count(F.when(F.col("is_suspect"), 1)).alias("suspect"),
                F.sum("n_chars").alias("chars"),
            )
            .collect()[0]
        ),
    )
    bt = (
        text_screen(base_docs)
        .agg(
            F.count(F.lit(1)), F.count(F.when(F.col("is_suspect"), 1)), F.sum("n_chars")
        )
        .collect()[0]
    )
    checks["text_screen_totals_scale_by_rep"] = bool(
        ts_totals == (rep * bt[0], rep * bt[1], rep * bt[2])
    )

    # VERDICT r14 What's-wrong #2 / next-round #4: txn_ckpt_1m is a measured
    # I/O-REGIME band (111.7-394.1 s across four bit-identical runs, note
    # 136) — one arm with a 3x intra-code spread must not be able to swing
    # the headline by ±150 s, or the round-over-round delta carries no
    # signal. It is reported as its own band-annotated line EXCLUDED from
    # the comparable total (the bm25/cc audit-arm precedent); the grand
    # total stays available beside it.
    band_arms = {k: v for k, v in timings.items() if k in _IO_BAND_ARMS}
    comparable = round(sum(v for k, v in timings.items() if k not in _IO_BAND_ARMS), 3)
    _canary()  # closing reference
    payload = {
        "metric": "scale_validation_wall_clock",
        "value": comparable,
        "unit": "sec",
        "queries": timings,
        "io_band_arms": band_arms,
        "total_with_band_arms": round(sum(timings.values()), 3),
        "sf_equivalent": 0.1 * rep,
        "noise_canary_series": canary_series,
        "noise_canary_spread": round(
            max(canary_series) / max(min(canary_series), 1e-9), 3
        ),
        "checks": checks,
    }
    print(json.dumps(payload))
    with open(out_path, "w") as f:
        json.dump(payload, f, indent=2)


if __name__ == "__main__":
    main()
