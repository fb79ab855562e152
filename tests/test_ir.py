"""IR / LM-scoring operators: known-answer checks on tiny corpora plus
plan-shape assertions (the sf0.001/sf0.01 DuckDB parity is covered by
test_parity.py like every registered query)."""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from etl_jlp_spark.operators import ir

from .conftest import SF_SMALL


def _mini_docs(spark, rows):
    return spark.createDataFrame(
        [(i, t, "en", "src0", len(t)) for i, t in enumerate(rows)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )


def _patch_catalog(monkeypatch, docs):
    monkeypatch.setattr(ir, "load_table", lambda spark, sf_dir, name: docs)


def test_tfidf_known_answer(spark, monkeypatch):
    # 3 docs; "apple" only in doc 0, "common" in all three
    docs = _mini_docs(
        spark,
        ["apple apple common", "common banana", "common banana cherry"],
    )
    _patch_catalog(monkeypatch, docs)
    out = {
        (r["doc_id"], r["term"]): (r["tf"], r["df"], r["tfidf"], r["rk"])
        for r in ir.tfidf_top_terms(spark, "unused").collect()
    }
    n = 3.0
    idf_apple = math.log((1 + n) / (1 + 1)) + 1
    idf_common = math.log((1 + n) / (1 + 3)) + 1
    assert out[(0, "apple")][0] == 2 and out[(0, "apple")][1] == 1
    assert abs(out[(0, "apple")][2] - round(2 * idf_apple, 4)) < 1e-9
    assert abs(out[(0, "common")][2] - round(1 * idf_common, 4)) < 1e-9
    # apple (tfidf 2*1.69) outranks common (1.0) in doc 0
    assert out[(0, "apple")][3] == 1 and out[(0, "common")][3] == 2


def test_bm25_ranks_matching_docs_first(spark, monkeypatch):
    docs = _mini_docs(
        spark,
        [
            "vector vector stream filter",  # all three query terms, twice vector
            "vector table join",  # one query term
            "table join scan agg",  # none
            "stream filter stream",  # two terms
        ],
    )
    _patch_catalog(monkeypatch, docs)
    rows = ir.bm25_search(spark, "unused").collect()
    ids = [r["doc_id"] for r in rows]
    assert 2 not in ids  # no query term -> never scored
    assert ids[0] == 0  # most matches wins
    assert all(rows[i]["bm25"] >= rows[i + 1]["bm25"] for i in range(len(rows) - 1))


def test_ngram_lm_in_vocab_beats_oov(spark, monkeypatch):
    # doc 0 is the training slice's language; doc with OOV tokens scores worse
    docs = _mini_docs(spark, ["alpha beta alpha beta", "alpha beta", "zzz qqq xxx"])
    _patch_catalog(monkeypatch, docs)
    # force every doc into the training slice predicate except doc 2
    monkeypatch.setattr(ir, "LM_TRAIN_PREFIX", "ff")
    out = {r["doc_id"]: r for r in ir.ngram_lm_score(spark, "unused").collect()}
    assert out[1]["avg_logprob"] > out[2]["avg_logprob"]  # in-vocab > OOV
    assert out[2]["ppl"] > out[1]["ppl"]
    assert out[0]["n_tokens"] == 4


def test_bpe_pairs_weighted_by_word_frequency(spark, monkeypatch):
    # "ab" appears via 'abc' (x3 occurrences) and 'ab' (x1); single chars ignored
    docs = _mini_docs(spark, ["abc abc ab", "abc a b c"])
    _patch_catalog(monkeypatch, docs)
    out = {r["pair"]: r["occurrences"] for r in ir.bpe_merge_candidates(spark, "unused").collect()}
    assert out["ab"] == 4  # 3x 'abc' + 1x 'ab'
    assert out["bc"] == 3
    assert set(out) == {"ab", "bc"}  # 1-char words contribute nothing


def test_ir_plans_have_no_cartesian_blowup(spark):
    """The only cross joins are broadcast 1-row scalar joins; the
    term-keyed joins must stay equi-joins."""
    for fn in (ir.tfidf_top_terms, ir.bm25_search, ir.ngram_lm_score):
        plan = fn(spark, SF_SMALL)._jdf.queryExecution().executedPlan().toString()
        assert "CartesianProduct" not in plan, plan[:2000]
        # the only nested-loop join allowed is the broadcast 1-row
        # corpus-scalar join (n_docs / totals)
        assert plan.count("BroadcastNestedLoopJoin") <= 1, plan[:2000]


def test_ir_queries_accept_real_testdata(spark):
    assert ir.bpe_merge_candidates(spark, SF_SMALL).count() > 0
    assert ir.bm25_search(spark, SF_SMALL).count() > 0


def test_embedding_quantize_contract(spark):
    """Reconstruction error must honor the int8 contract: each component
    off by at most scale/2 (+ float noise)."""
    from etl_jlp_spark.operators.embeddings import embedding_quantize

    out = embedding_quantize(spark, SF_SMALL)
    rows = out.collect()
    assert rows and all(len(r["qvec"].split(",")) == 64 for r in rows[:5])
    # both scale and max_abs_err are rounded to 6dp in the output, so
    # allow the half-ulp-of-rounding slack on the bound
    bad = [r for r in rows if r["max_abs_err"] > r["scale"] / 2 + 1e-6]
    assert not bad, bad[:3]
    # quantized components stay inside int8 range
    assert all(
        -127 <= int(x) <= 127 for r in rows[:20] for x in r["qvec"].split(",")
    )


def test_bm25_prebuilt_matches_live_and_prunes(spark):
    """The indexed probe must return exactly the live query's rows, and
    its postings scan must prune to the query terms' hash buckets."""
    import hashlib

    from etl_jlp_spark.operators.ir import (
        BM25_QUERY_TERMS,
        bm25_search,
        bm25_search_prebuilt,
        ensure_ir_index,
    )

    live = [tuple(r) for r in ir.bm25_search(spark, SF_SMALL).collect()]
    pre = [tuple(r) for r in bm25_search_prebuilt(spark, SF_SMALL).collect()]
    assert pre == live
    # partition pruning: only the terms' pbucket directories are read
    p_path = ensure_ir_index(spark, SF_SMALL)[0]
    want_buckets = sorted(
        {"b" + hashlib.md5(t.encode()).hexdigest()[:2] for t in BM25_QUERY_TERMS}
    )
    from pyspark.sql import functions as F

    posts = spark.read.parquet(p_path).filter(
        F.col("pbucket").isin(want_buckets) & F.col("term").isin(list(BM25_QUERY_TERMS))
    )
    plan = posts._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan
    pf = plan.split("PartitionFilters: [", 1)[1].split("]", 1)[0]
    assert "pbucket" in pf, plan[:1500]


def test_store_key_changes_when_corpus_regenerated(tmp_path):
    """A regenerated corpus file must resolve to a different store key,
    so persisted indexes rebuild instead of serving stale answers."""
    import os
    import shutil
    import time

    from etl_jlp_spark.stores import corpus_store_key

    sf = tmp_path / "sf"
    sf.mkdir()
    shutil.copy(f"{SF_SMALL}/documents.parquet", sf / "documents.parquet")
    k1 = corpus_store_key(str(sf), "documents")
    assert k1 == corpus_store_key(str(sf), "documents")  # stable
    time.sleep(0.01)
    os.utime(sf / "documents.parquet")  # regeneration = new mtime
    assert corpus_store_key(str(sf), "documents") != k1


def test_bpe_encode_known_answer(spark, monkeypatch):
    # words: "aaab" ×2, "abab" ×1 → pair counts aa=4, ab=4, ba=1 →
    # merge order (occurrences desc, pair asc): aa, ab, ba.
    # "aaab" → "a a a b" →aa→ "aa a b" →ab→ "aa ab" →ba→ (no "b a"
    #   spans the space: "aa ab" keeps 2 tokens) — ×2 words = 4 tokens
    # "abab" → "a b a b" →ab→ "ab ab" →ba→ "abab" (the ba merge fuses
    #   across the gap: 1 token)
    docs = _mini_docs(spark, ["aaab aaab", "abab"])
    _patch_catalog(monkeypatch, docs)
    out = {r["doc_id"]: r for r in ir.bpe_encode(spark, "unused").collect()}
    assert out[0]["n_chars_alpha"] == 8 and out[0]["n_tokens_bpe"] == 4
    assert out[1]["n_chars_alpha"] == 4 and out[1]["n_tokens_bpe"] == 1
    assert abs(out[0]["chars_per_token"] - 2.0) < 1e-9


def test_dsir_target_like_docs_rank_first(spark, monkeypatch):
    # src0 (target) speaks "tokyo kyoto"; src1 mostly speaks "widget
    # gadget" except doc 5, which is target-like and must outrank its
    # source-mates. DSIR scores ALL docs; higher = more target-like.
    # Doc ids 6/19/21 sit inside the md5 background-LM training slice
    # (prefix < LM_TRAIN_PREFIX) so the background model is non-empty —
    # the same deterministic-slice property ngram_lm_score relies on.
    rows = [
        (0, "tokyo kyoto tokyo kyoto", "en", "src0", 23),
        (1, "kyoto tokyo kyoto tokyo", "en", "src0", 23),
        (2, "widget gadget widget gadget", "en", "src1", 27),
        (3, "gadget widget gadget widget", "en", "src1", 27),
        (6, "widget gadget gadget widget", "en", "src1", 27),
        (19, "gadget widget widget gadget", "en", "src1", 27),
        (21, "widget widget gadget gadget", "en", "src1", 27),
        (5, "tokyo kyoto kyoto tokyo", "en", "src1", 23),
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    _patch_catalog(monkeypatch, docs)
    out = ir.dsir_select(spark, "unused").collect()
    by_rank = [r["doc_id"] for r in sorted(out, key=lambda r: r["rk"])]
    # the three target-voiced docs (0, 1, 5) occupy the top ranks
    assert set(by_rank[:3]) == {0, 1, 5}
    scores = {r["doc_id"]: r["avg_logratio"] for r in out}
    assert scores[5] > scores[2]


def test_bigram_lm_prefers_predictable_transitions(spark, tmp_path):
    """Two docs with IDENTICAL unigram histograms: the one whose word
    ORDER matches the training corpus must out-score the shuffled one —
    the signal the unigram LM cannot see."""
    from pyspark.sql import Row

    from etl_jlp_spark.operators.ir import bigram_lm_score

    base = "the cat sat on the mat and the dog ran to the tree"
    # doc_ids chosen so md5 prefix puts BOTH test docs outside training:
    # training slice comes from repeated copies of the base sentence
    rows = []
    i = 0
    train_ids = []
    while len(train_ids) < 12:
        import hashlib

        if hashlib.md5(str(i).encode()).hexdigest()[:2] < "40":
            train_ids.append(i)
        i += 1
    for tid in train_ids:
        rows.append(Row(doc_id=tid, text=base, lang="en", source="s", n_chars=len(base)))
    # find two non-train ids for the probes
    probes = []
    j = 0
    while len(probes) < 2:
        import hashlib

        if hashlib.md5(str(j).encode()).hexdigest()[:2] >= "40" and j not in train_ids:
            probes.append(j)
        j += 1
    natural = base
    shuffled = "mat the to dog the sat and ran tree the cat on the"
    rows.append(Row(doc_id=probes[0], text=natural, lang="en", source="s", n_chars=1))
    rows.append(Row(doc_id=probes[1], text=shuffled, lang="en", source="s", n_chars=1))
    spark.createDataFrame(rows).write.mode("overwrite").parquet(
        str(tmp_path / "documents.parquet")
    )
    out = {r["doc_id"]: r for r in bigram_lm_score(spark, str(tmp_path)).collect()}
    assert out[probes[0]]["avg_logprob"] > out[probes[1]]["avg_logprob"]
    assert out[probes[0]]["ppl"] < out[probes[1]]["ppl"]
