"""Per-language bigram LM perplexity (operators/lm.py)."""

import math
import re
from collections import Counter

import pytest

from mcp_synaptic_spark.operators import lm as LM


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string, lang string")


def _naive_ppl(score_rows, train_rows, lam=LM.DEFAULT_LAMBDA):
    """Independent Python reimplementation of the module docstring's math."""

    def toks(txt):
        return [t for t in re.split(r"\s+", (txt or "").lower()) if t]

    uni, bi, ctx, n, vocab = {}, {}, {}, Counter(), {}
    for _, txt, g in train_rows:
        if txt is None:
            continue
        ts = toks(txt)
        for w in ts:
            uni[(g, w)] = uni.get((g, w), 0) + 1
            n[g] += 1
        for p, w in zip(ts, ts[1:]):
            bi[(g, p, w)] = bi.get((g, p, w), 0) + 1
            ctx[(g, p)] = ctx.get((g, p), 0) + 1
    for g, _ in uni:
        vocab[g] = len({w for (gg, w) in uni if gg == g})
    out = {}
    for i, txt, g in score_rows:
        if txt is None or g not in n:
            continue
        ts = toks(txt)
        if not ts:
            continue
        lps = []
        for pos, w in enumerate(ts):
            p_uni = (uni.get((g, w), 0) + 1) / (n[g] + vocab[g] + 1)
            if pos == 0:
                p = p_uni
            else:
                prev = ts[pos - 1]
                mle = (
                    bi[(g, prev, w)] / ctx[(g, prev)]
                    if (g, prev, w) in bi
                    else 0.0
                )
                p = lam * mle + (1 - lam) * p_uni
            lps.append(math.log(p))
        out[i] = (g, len(ts), round(-sum(lps) / len(lps), 6))
    return out


TRAIN = [
    (1, "the cat sat on the mat", "en"),
    (2, "the cat ran", "en"),
    (3, "a dog sat", "en"),
    (4, "le chat noir le chat", "fr"),
]


def test_matches_naive_self_trained(spark):
    got = {
        r.doc_id: (r.lang, r.n_tokens, r.logppl)
        for r in LM.perplexity(_docs(spark, TRAIN)).collect()
    }
    assert got == _naive_ppl(TRAIN, TRAIN)


def test_matches_naive_separate_train(spark):
    score = [
        (10, "the cat sat", "en"),  # all seen, strong bigrams -> low ppl
        (11, "zebra quark mat", "en"),  # OOV-heavy -> high ppl
        (12, "le chat", "fr"),
        (13, "der hund", "de"),  # lang absent from train -> dropped
        (14, "   ", "en"),  # token-less -> dropped
        (15, None, "en"),  # null text -> dropped
    ]
    train_df = _docs(spark, TRAIN)
    got = {
        r.doc_id: (r.lang, r.n_tokens, r.logppl)
        for r in LM.perplexity(_docs(spark, score), train=train_df).collect()
    }
    exp = _naive_ppl(score, TRAIN)
    assert got == exp
    assert set(got) == {10, 11, 12}
    assert got[11][2] > got[10][2], "OOV doc must score worse than in-domain"


def test_first_token_and_unseen_context_paths(spark):
    # one-token doc: pure unigram; unseen context ("mat" never a prefix in
    # train): MLE term 0, pure (1-lam) * p_uni
    score = [(20, "cat", "en"), (21, "mat zzz", "en")]
    got = {
        r.doc_id: r.logppl
        for r in LM.perplexity(_docs(spark, score), train=_docs(spark, TRAIN)).collect()
    }
    exp = _naive_ppl(score, TRAIN)
    assert got == {i: v[2] for i, v in exp.items()}


@pytest.mark.parametrize("lam", [0.0, 1.0])
def test_lambda_edges(spark, lam):
    got = {
        r.doc_id: (r.lang, r.n_tokens, r.logppl)
        for r in LM.perplexity(_docs(spark, TRAIN), lam=lam).collect()
    }
    assert got == _naive_ppl(TRAIN, TRAIN, lam=lam)


def test_lambda_validation(spark):
    with pytest.raises(ValueError):
        LM.perplexity(_docs(spark, TRAIN), lam=1.5)
    with pytest.raises(ValueError):
        LM.perplexity_buckets(_docs(spark, TRAIN), buckets=(3.5, 3.0))


def test_buckets_partition_and_share(spark):
    rows = TRAIN + [(5, "quark boson lepton gluon", "en")]
    ppl = {r.doc_id: r.logppl for r in LM.perplexity(_docs(spark, rows)).collect()}
    cuts = (sorted(ppl.values())[1], sorted(ppl.values())[3])
    got = LM.perplexity_buckets(_docs(spark, rows), buckets=cuts).collect()
    # every scored doc lands in exactly one bucket; shares sum to 1 per lang
    assert sum(r.n_docs for r in got) == len(ppl)
    by_lang = Counter()
    for r in got:
        by_lang[r.lang] += r.share
    for lang, s in by_lang.items():
        assert abs(s - 1.0) < 1e-5, (lang, s)


def test_tokenization_is_whitespace_and_lowercase(spark):
    # "The the THE" are one token type; tabs and multiple spaces split; the
    # [^a-z0-9] TF-IDF splitter would have erased a non-Latin token, the
    # whitespace splitter must keep it
    rows = [(1, "The the THE", "en"), (2, "\t汉字  the x", "en")]
    uni, _, totals = LM.train_bigram_lm(_docs(spark, rows))
    counts = {r.cur: r.c_uni for r in uni.collect()}
    assert counts["the"] >= 4
    assert any("汉字" in w for w in counts)
    t = totals.collect()[0]
    assert t.vocab == len(counts) and t.n_train_tokens == sum(counts.values())


def test_prefit_lm_tables_match_self_trained(spark):
    df = _docs(spark, TRAIN)
    direct = {r.doc_id: r.logppl for r in LM.perplexity(df).collect()}
    via_lm = {
        r.doc_id: r.logppl
        for r in LM.perplexity(df, lm=LM.train_bigram_lm(df)).collect()
    }
    assert direct == via_lm
    with pytest.raises(ValueError):
        LM.perplexity(df, train=df, lm=LM.train_bigram_lm(df))


def test_scoring_runs_as_stream_against_static_lm(spark, tmp_path):
    """The production admission shape: new docs arrive as a stream and are
    scored against a STATIC persisted LM — the whole scoring DAG (array-side
    pair construction, two stream-static left joins, broadcast totals,
    per-doc aggregation) must lift onto readStream unchanged. Spark supports
    stream-left/static-right joins and complete-mode aggregation, so no
    operator rewrite is allowed to be needed."""
    path = str(tmp_path / "docs")
    _docs(spark, TRAIN).write.parquet(path)
    lm_tabs = tuple(t.persist() for t in LM.train_bigram_lm(_docs(spark, TRAIN)))
    try:
        schema = spark.read.parquet(path).schema
        stream = spark.readStream.schema(schema).parquet(path)
        name = f"lm_stream_{abs(hash(str(tmp_path))) % 10**8}"
        q = (
            LM.perplexity(stream, lm=lm_tabs)
            .writeStream.format("memory")
            .queryName(name)
            .outputMode("complete")
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        got = {
            r.doc_id: (r.lang, r.n_tokens, r.logppl)
            for r in spark.sql(f"SELECT * FROM {name}").collect()
        }
        assert got == _naive_ppl(TRAIN, TRAIN)
    finally:
        for t in lm_tabs:
            t.unpersist()


def test_lm_write_load_roundtrip_scores_identically(spark, tmp_path):
    """r12: the persisted-LM pair (lm_write/lm_load) — scoring against the
    loaded tables must equal scoring against the in-memory tables exactly,
    and a recipe-mismatched artifact must refuse to load."""
    import json

    import pytest

    docs = _docs(spark, TRAIN)
    tabs = LM.train_bigram_lm(docs)
    path = str(tmp_path / "lm")
    LM.lm_write(tabs, path)
    loaded = LM.lm_load(spark, path)
    want = {(r.doc_id): (r.n_tokens, r.logppl) for r in LM.perplexity(docs, lm=tabs).collect()}
    got = {(r.doc_id): (r.n_tokens, r.logppl) for r in LM.perplexity(docs, lm=loaded).collect()}
    assert got == want
    with open(f"{path}/_index.json") as f:
        meta = json.load(f)
    meta["tokenizer"] = "bpe"
    with open(f"{path}/_index.json", "w") as f:
        json.dump(meta, f)
    with pytest.raises(ValueError, match="recipe"):
        LM.lm_load(spark, path)
