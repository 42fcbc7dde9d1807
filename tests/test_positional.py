"""Positional index + phrase / conjunctive / filtered retrieval.

The reference delegates these query shapes to Elasticsearch (match_phrase,
match with operator:and, bool filter — ES 7.9.1 / Lucene 8.6); the engine
owns them natively over the positional posting stream (codec pos_bytes).
Every test checks against an independent pure-Python oracle over the raw
corpus, never against the engine itself.
"""

from __future__ import annotations

import math

import numpy as np
import pytest
from pyspark.sql import functions as F

from rabbit_index_ingest_spark.analysis import py_tokenize
from rabbit_index_ingest_spark.datagen import transcripts_pandas
from rabbit_index_ingest_spark.index import codec
from rabbit_index_ingest_spark.index.build import build_index
from rabbit_index_ingest_spark.index.query import (
    Searcher,
    flat_postings_positional,
    lucene_idf,
)


# ---------------- pure-Python oracles ----------------


def _corpus_pdf(n_conv: int = 40):
    pdf = transcripts_pandas(n_conv=n_conv)[["conv_id", "turn_idx", "text"]]
    return pdf.sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)


def _py_phrase_topk(pdf, query: str, k: int):
    """Oracle: sliding-window phrase count + pseudo-term BM25."""
    qterms = py_tokenize(query)
    toks = [py_tokenize(t) for t in pdf["text"]]
    n_docs = len(toks)
    avgdl = sum(len(t) for t in toks) / n_docs
    dfs = {
        t: sum(1 for d in toks if t in set(d)) for t in set(qterms)
    }
    if any(dfs[t] == 0 for t in qterms):
        return []
    idf = sum(lucene_idf(n_docs, dfs[t]) for t in qterms)
    out = []
    for doc_id, d in enumerate(toks):
        n = len(qterms)
        ptf = sum(
            1
            for i in range(len(d) - n + 1)
            if d[i : i + n] == qterms
        )
        if ptf:
            dl = len(d)
            score = idf * ptf * (codec.K1 + 1) / (
                ptf + codec.K1 * (1 - codec.B + codec.B * dl / avgdl)
            )
            out.append((doc_id, score))
    out.sort(key=lambda x: (-x[1], x[0]))
    return out[:k]


def _py_bm25(pdf, query: str, require_all: bool = False, allowed=None):
    """Oracle: full BM25 scores; optionally conjunctive / allow-listed."""
    qterms = sorted(set(py_tokenize(query)))
    toks = [py_tokenize(t) for t in pdf["text"]]
    n_docs = len(toks)
    avgdl = sum(len(t) for t in toks) / n_docs
    dfs = {t: sum(1 for d in toks if t in set(d)) for t in qterms}
    if require_all and any(dfs[t] == 0 for t in qterms):
        return []
    out = []
    for doc_id, d in enumerate(toks):
        if allowed is not None and doc_id not in allowed:
            continue
        matched = [t for t in qterms if t in d]
        if not matched or (require_all and len(matched) < len(qterms)):
            continue
        dl = len(d)
        score = 0.0
        for t in sorted(matched):
            if dfs[t] == 0:
                continue
            tf = d.count(t)
            score += lucene_idf(n_docs, dfs[t]) * tf * (codec.K1 + 1) / (
                tf + codec.K1 * (1 - codec.B + codec.B * dl / avgdl)
            )
        out.append((doc_id, score))
    out.sort(key=lambda x: (-x[1], x[0]))
    return out


# ---------------- fixtures ----------------


@pytest.fixture(scope="module")
def corpus(spark):
    pdf = _corpus_pdf()
    df = spark.createDataFrame(pdf)
    built = build_index(spark, df)
    built.postings = built.postings.persist()
    built.postings.count()
    searcher = Searcher(
        spark, built.postings, built.dictionary, built.n_docs, built.avgdl
    )
    yield pdf, built, searcher
    built.release()
    built.postings.unpersist()


def _assert_topk_equal(got_rows, want, k):
    got = [(r["doc_id"], r["score"]) for r in got_rows]
    assert len(got) == min(k, len(want))
    for (gd, gs), (wd, ws) in zip(got, want[:k]):
        assert gd == wd
        assert gs == pytest.approx(ws, rel=1e-12)


# ---------------- positional stream through the real build ----------------


def test_flat_positional_matches_posexplode(spark, corpus):
    """Decoded (term, doc_id, positions) must equal a direct posexplode of
    the tokenized corpus — the codec round-trips through the full
    repartition/sort/pack pipeline."""
    pdf, built, _ = corpus
    want: dict[tuple[str, int], list[int]] = {}
    for doc_id, text in enumerate(pdf["text"]):
        for i, t in enumerate(py_tokenize(text)):
            want.setdefault((t, doc_id), []).append(i)
    got_rows = flat_postings_positional(built.postings).collect()
    got = {(r["term"], r["doc_id"]): list(r["positions"]) for r in got_rows}
    assert got == want


def test_positions_default_on_and_prunable(spark, corpus, tmp_path):
    _, built, _ = corpus
    sizes = built.postings.select(
        F.sum(F.octet_length("pos_bytes")).alias("pos"),
        F.sum(F.octet_length("doc_bytes")).alias("doc"),
    ).collect()[0]
    assert sizes["pos"] > 0  # positions stored by default
    # ...and the BM25 fast path never READS them: on a parquet-backed
    # store the postings FileScan's ReadSchema must include doc_bytes but
    # prune pos_bytes (the _SCORE_COLS projection sits below groupBy)
    from rabbit_index_ingest_spark.index.store import IndexStore

    pdf = _corpus_pdf(n_conv=10)
    store = IndexStore(spark, str(tmp_path / "idx"))
    store.save(build_index(spark, spark.createDataFrame(pdf)), segment=0)
    loaded = store.load()
    s = Searcher(
        spark, loaded.postings, loaded.dictionary, loaded.n_docs, loaded.avgdl
    )
    s._local_max_blocks = 0  # the distributed route (small queries run locally)
    plan = (
        s.topk_blockmax("zephyr quantum", 5)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    scans = [l for l in plan.splitlines() if "ReadSchema" in l]
    postings_scans = [l for l in scans if "doc_bytes" in l]
    assert postings_scans, plan
    for line in postings_scans:
        assert "pos_bytes" not in line, line
    # same for the DataFrame reference scorer (flat_postings projection)
    dplan = (
        s.topk_dataframe("zephyr quantum", 5)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    dscans = [l for l in dplan.splitlines() if "ReadSchema" in l and "doc_bytes" in l]
    assert dscans, dplan
    for line in dscans:
        assert "pos_bytes" not in line, line
    # the phrase path DOES read the position stream
    pplan = (
        s.topk_phrase("zephyr quantum", 5)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "pos_bytes" in pplan


# ---------------- phrase queries ----------------


@pytest.mark.parametrize(
    "query",
    [
        "zephyr quantum",  # common bigram in the synthetic vocab
        "quantum lattice drift",
        "karo quantum",
    ],
)
def test_phrase_topk_matches_oracle(spark, corpus, query):
    pdf, built, searcher = corpus
    want = _py_phrase_topk(pdf, query, 10)
    got = searcher.topk_phrase(query, 10).collect()
    _assert_topk_equal(got, want, 10)
    # the DataFrame reference twin must agree score-identically
    got_df = searcher.topk_phrase_dataframe(query, 10).collect()
    _assert_topk_equal(got_df, want, 10)


def test_phrase_repeated_term_overlap(spark):
    """'a a' in 'a a a' must count 2 sliding (overlapping) occurrences —
    the Lucene PhraseQuery sliding-window semantic."""
    rows = [("c1", 0, "a a a b"), ("c2", 0, "a b a b"), ("c3", 0, "b b")]
    df = spark.createDataFrame(rows, "conv_id string, turn_idx int, text string")
    built = build_index(spark, df)
    s = Searcher(spark, built.postings, built.dictionary, built.n_docs, built.avgdl)
    got = {r["doc_id"]: r["score"] for r in s.topk_phrase("a a", 10).collect()}
    assert set(got) == {0}
    idf = 2 * lucene_idf(3, 2)
    dl, ptf, avgdl = 4, 2, 10 / 3
    want = idf * ptf * (codec.K1 + 1) / (
        ptf + codec.K1 * (1 - codec.B + codec.B * dl / avgdl)
    )
    assert got[0] == pytest.approx(want, rel=1e-12)
    built.release()


def test_phrase_absent_term_is_empty(spark, corpus):
    _, _, searcher = corpus
    assert searcher.topk_phrase("zephyr nosuchterm", 10).count() == 0
    assert searcher.topk_phrase("", 10).count() == 0


def test_phrase_respects_tombstones(spark, corpus):
    pdf, built, searcher = corpus
    query = "zephyr quantum"
    want = _py_phrase_topk(pdf, query, 10)
    assert want, "fixture phrase must match at least one doc"
    dead = want[0][0]
    want_after = [w for w in want if w[0] != dead]
    s_df = Searcher(
        spark, built.postings, built.dictionary, built.n_docs, built.avgdl,
        deleted_df=spark.createDataFrame([(dead,)], "doc_id long"),
    )
    _assert_topk_equal(s_df.topk_phrase(query, 10).collect(), want_after, 10)


def test_phrase_requires_positions(spark):
    rows = [("c1", 0, "alpha beta gamma")]
    df = spark.createDataFrame(rows, "conv_id string, turn_idx int, text string")
    built = build_index(spark, df, positions=False)
    s = Searcher(spark, built.postings, built.dictionary, built.n_docs, built.avgdl)
    with pytest.raises(Exception, match="positions=False|no position stream"):
        s.topk_phrase("alpha beta", 5).collect()
    built.release()


# ---------------- conjunctive (operator: and) ----------------


@pytest.mark.parametrize("query", ["zephyr quantum", "the of lattice"])
def test_topk_and_matches_oracle(spark, corpus, query):
    pdf, _, searcher = corpus
    want = _py_bm25(pdf, query, require_all=True)[:10]
    got = searcher.topk_and(query, 10).collect()
    _assert_topk_equal(got, want, 10)


def test_topk_and_absent_term_empty(spark, corpus):
    _, _, searcher = corpus
    # disjunctive finds docs; conjunctive must find none
    assert searcher.topk_dataframe("zephyr nosuchterm", 10).count() > 0
    assert searcher.topk_and("zephyr nosuchterm", 10).count() == 0


def test_topk_and_is_subset_of_disjunctive(spark, corpus):
    pdf, _, searcher = corpus
    q = "zephyr quantum drift"
    and_rows = {r["doc_id"]: r["score"] for r in searcher.topk_and(q, 1000).collect()}
    or_rows = {
        r["doc_id"]: r["score"]
        for r in searcher.topk_dataframe(q, 1000).collect()
    }
    assert set(and_rows) <= set(or_rows)
    for d, s in and_rows.items():
        assert s == pytest.approx(or_rows[d], rel=1e-12)


# ---------------- filtered retrieval ----------------


def test_topk_filtered_matches_oracle(spark, corpus):
    pdf, built, searcher = corpus
    # allow-list: turn 0 of every conversation (a metadata predicate over
    # the docs table, the ES bool-filter analogue)
    allowed_keys = set(
        pdf.index[pdf["turn_idx"] == 0]
    )  # positional == doc_id (corpus pre-sorted by (conv_id, turn_idx))
    want = _py_bm25(pdf, "zephyr quantum", allowed=allowed_keys)[:10]
    allowed_df = built.doc_stats.where(F.col("turn_idx") == 0).select("doc_id")
    got = searcher.topk_filtered("zephyr quantum", allowed_df, 10).collect()
    _assert_topk_equal(got, want, 10)


def test_topk_filtered_empty_allowlist(spark, corpus):
    _, built, searcher = corpus
    allowed = built.doc_stats.where(F.lit(False)).select("doc_id")
    assert searcher.topk_filtered("zephyr", allowed, 10).count() == 0


# ---------------- persistence round-trip ----------------


def test_positions_survive_store_roundtrip(spark, tmp_path):
    from rabbit_index_ingest_spark.index.store import IndexStore

    pdf = _corpus_pdf(n_conv=15)
    df = spark.createDataFrame(pdf)
    store = IndexStore(spark, str(tmp_path / "idx"))
    store.save(build_index(spark, df), segment=0)
    loaded = store.load()
    s = Searcher(
        spark, loaded.postings, loaded.dictionary, loaded.n_docs, loaded.avgdl
    )
    want = _py_phrase_topk(pdf, "zephyr quantum", 10)
    got = s.topk_phrase("zephyr quantum", 10).collect()
    _assert_topk_equal(got, want, 10)


# ---------------- ordered proximity (span_near) ----------------


def _py_near_topk(pdf, query: str, gap: int, k: int):
    """Oracle: exact ordered-chain count via DP over token positions."""
    qterms = py_tokenize(query)
    toks = [py_tokenize(t) for t in pdf["text"]]
    n_docs = len(toks)
    avgdl = sum(len(t) for t in toks) / n_docs
    dfs = {t: sum(1 for d in toks if t in set(d)) for t in set(qterms)}
    if any(dfs[t] == 0 for t in qterms):
        return []
    idf = sum(lucene_idf(n_docs, dfs[t]) for t in qterms)
    out = []
    for doc_id, d in enumerate(toks):
        pos = {t: [i for i, x in enumerate(d) if x == t] for t in set(qterms)}
        state = {p: 1 for p in pos[qterms[0]]}
        for t in qterms[1:]:
            state = {
                p: sum(w for q, w in state.items() if q < p <= q + gap)
                for p in pos[t]
            }
            state = {p: w for p, w in state.items() if w > 0}
        tf = sum(state.values())
        if tf:
            dl = len(d)
            score = idf * tf * (codec.K1 + 1) / (
                tf + codec.K1 * (1 - codec.B + codec.B * dl / avgdl)
            )
            out.append((doc_id, score))
    out.sort(key=lambda x: (-x[1], x[0]))
    return out[:k]


@pytest.mark.parametrize(
    "query,gap",
    [("zephyr quantum", 3), ("quantum lattice drift", 2), ("karo quantum", 4)],
)
def test_topk_near_matches_oracle(spark, corpus, query, gap):
    pdf, _, searcher = corpus
    want = _py_near_topk(pdf, query, gap, 10)
    got = searcher.topk_near(query, 10, gap=gap).collect()
    _assert_topk_equal(got, want, 10)
    # the DataFrame reference twin must agree score-identically
    got_df = searcher.topk_near_dataframe(query, 10, gap=gap).collect()
    _assert_topk_equal(got_df, want, 10)


def test_topk_near_gap1_equals_phrase(spark, corpus):
    pdf, _, searcher = corpus
    q = "zephyr quantum"
    ph = [(r["doc_id"], r["score"]) for r in searcher.topk_phrase(q, 20).collect()]
    nr = [(r["doc_id"], r["score"]) for r in searcher.topk_near(q, 20, gap=1).collect()]
    assert ph == nr and ph


def test_topk_near_is_ordered(spark):
    rows = [("c1", 0, "beta alpha"), ("c2", 0, "alpha beta")]
    df = spark.createDataFrame(rows, "conv_id string, turn_idx int, text string")
    built = build_index(spark, df)
    s = Searcher(spark, built.postings, built.dictionary, built.n_docs, built.avgdl)
    got = {r["doc_id"] for r in s.topk_near("alpha beta", 10, gap=5).collect()}
    assert got == {1}  # in-order only; c1's reversed pair never matches
    built.release()


def test_topk_near_duplicate_query_terms(spark, corpus):
    """Repeated term in the proximity query: chains are ordered pairs of
    DISTINCT positions of the same term within the gap."""
    pdf, _, searcher = corpus
    q, gap = "karo karo", 6
    want = _py_near_topk(pdf, q, gap, 10)
    got = searcher.topk_near(q, 10, gap=gap).collect()
    assert want, "fixture needs at least one doc with two close karos"
    _assert_topk_equal(got, want, 10)


def test_topk_near_requires_positions(spark):
    rows = [("c1", 0, "alpha beta gamma")]
    df = spark.createDataFrame(rows, "conv_id string, turn_idx int, text string")
    built = build_index(spark, df, positions=False)
    s = Searcher(spark, built.postings, built.dictionary, built.n_docs, built.avgdl)
    with pytest.raises(Exception, match="positions=False|no position stream"):
        s.topk_near("alpha beta", 5, gap=2).collect()
    built.release()


def test_phrase_prefilter_plan_shape(spark, corpus):
    """The rare-term skew guard must appear in the plan as TWO left-semi
    prunes (block-level on range_id before the decode, row-level on
    doc_id after) whenever a multi-term phrase has a sub-cap rarest term
    — which every fixture term is. (The DataFrame reference twin; the
    default block-max path does its pruning inside the range scorer.)"""
    _, _, searcher = corpus
    plan = (
        searcher.topk_phrase_dataframe("karo quantum", 5)
        ._jdf.queryExecution()
        .optimizedPlan()
        .toString()
    )
    assert plan.count("LeftSemi") >= 2, plan
    # and the single-term phrase skips the guard entirely
    plan1 = (
        searcher.topk_phrase_dataframe("quantum", 5)
        ._jdf.queryExecution()
        .optimizedPlan()
        .toString()
    )
    assert "LeftSemi" not in plan1, plan1


def test_phrase_two_phase_intersection_above_cap(spark, corpus):
    """Round-3 verdict item 2 (the 2M-df cliff): when NO term is under the
    broadcast cap, the prefilter must not disable — it switches to the
    cap-free two-phase doc-level intersection, results unchanged and
    EVERY term's positional scan pruned (range- and doc-level semi-joins
    on the candidate frame)."""
    pdf, built, searcher = corpus
    s2 = Searcher(
        spark, built.postings, built.dictionary, built.n_docs, built.avgdl
    )
    s2._PHRASE_PREFILTER_MAX_DF = 0  # force: every term counts as hot
    for q in ["zephyr quantum", "quantum lattice drift"]:
        want = _py_phrase_topk(pdf, q, 10)
        _assert_topk_equal(s2.topk_phrase_dataframe(q, 10).collect(), want, 10)
    plan = (
        s2.topk_phrase_dataframe("zephyr quantum", 5)
        ._jdf.queryExecution()
        .optimizedPlan()
        .toString()
    )
    # 2 terms x (block-level range semi-join + row-level doc semi-join):
    # the hot terms' positional decodes are pruned with NO sub-cap term
    assert plan.count("LeftSemi") >= 4, plan


def test_near_two_phase_intersection_above_cap(spark, corpus):
    """The span_near path shares the cap-free prefilter."""
    pdf, built, _ = corpus
    s2 = Searcher(
        spark, built.postings, built.dictionary, built.n_docs, built.avgdl
    )
    s2._PHRASE_PREFILTER_MAX_DF = 0
    want = _py_near_topk(pdf, "zephyr quantum", 3, 10)
    _assert_topk_equal(
        s2.topk_near_dataframe("zephyr quantum", 10, gap=3).collect(), want, 10
    )


def test_phrase_blockmax_prunes_blocks(spark):
    """The default phrase path must SKIP hot-term blocks whose doc span
    misses the rarest term's candidate bitmap — without decoding them —
    and still match the oracle. One rare anchor + a term hot in every doc
    (25 blocks at block_size=8): all but the anchor's block must skip."""
    import pandas as pd

    rows = [
        ("c%03d" % j, 0, ("anchor " if j == 57 else "w%d " % j) + "target")
        for j in range(200)
    ]
    pdf = pd.DataFrame(rows, columns=["conv_id", "turn_idx", "text"])
    b2 = build_index(spark, spark.createDataFrame(pdf), block_size=8)
    s = Searcher(spark, b2.postings, b2.dictionary, b2.n_docs, b2.avgdl)
    acc = spark.sparkContext.accumulator(0)
    want = _py_phrase_topk(pdf, "anchor target", 10)
    assert len(want) == 1, want
    got = s.topk_phrase("anchor target", 10, skip_acc=acc).collect()
    _assert_topk_equal(got, want, 10)
    # 200 docs of "target" = 25 blocks; only the one holding doc 57 decodes
    assert acc.value >= 20, f"expected most hot blocks skipped, got {acc.value}"
    b2.release()


def test_phrase_blockmax_allowed_filter(spark, corpus):
    """bool-filter composition inside the phrase range scorer (cogrouped
    allow set) must equal post-filtering the unfiltered phrase result."""
    pdf, built, searcher = corpus
    full = _py_phrase_topk(pdf, "zephyr quantum", 10_000)
    allowed_df = built.doc_stats.where(F.col("turn_idx") % 2 == 0).select(
        "doc_id"
    )
    allowed_ids = {r["doc_id"] for r in allowed_df.collect()}
    want = [w for w in full if w[0] in allowed_ids][:10]
    got = searcher.topk_phrase("zephyr quantum", 10, allowed=allowed_df).collect()
    _assert_topk_equal(got, want, 10)


def test_near_blockmax_prunes_blocks(spark):
    """The default proximity path shares the phrase scorer's pass-1 doc
    intersection: hot-term blocks whose span misses the rare anchor's
    candidate bitmap must skip undecoded, result still oracle-exact."""
    import pandas as pd

    rows = [
        ("c%03d" % j, 0, ("anchor x " if j == 57 else "w%d x " % j) + "target")
        for j in range(200)
    ]
    pdf = pd.DataFrame(rows, columns=["conv_id", "turn_idx", "text"])
    b2 = build_index(spark, spark.createDataFrame(pdf), block_size=8)
    s = Searcher(spark, b2.postings, b2.dictionary, b2.n_docs, b2.avgdl)
    acc = spark.sparkContext.accumulator(0)
    want = _py_near_topk(pdf, "anchor target", 2, 10)
    assert len(want) == 1, want
    got = s.topk_near("anchor target", 10, gap=2, skip_acc=acc).collect()
    _assert_topk_equal(got, want, 10)
    assert acc.value >= 20, f"expected most hot blocks skipped, got {acc.value}"
    b2.release()


def test_near_blockmax_allowed_filter(spark, corpus):
    """bool-filter composition inside the near range scorer (cogrouped
    allow set) must equal post-filtering the unfiltered result."""
    pdf, built, searcher = corpus
    full = _py_near_topk(pdf, "zephyr quantum", 3, 10_000)
    allowed_df = built.doc_stats.where(F.col("turn_idx") % 2 == 0).select(
        "doc_id"
    )
    allowed_ids = {r["doc_id"] for r in allowed_df.collect()}
    want = [w for w in full if w[0] in allowed_ids][:10]
    got = searcher.topk_near(
        "zephyr quantum", 10, gap=3, allowed=allowed_df
    ).collect()
    _assert_topk_equal(got, want, 10)


def test_phrase_blockmax_hot_hot_matches_twin(spark, corpus):
    """Hot×hot phrase (every term common — the round-3 worst case): the
    block-max path must agree with the DataFrame twin exactly; no
    broadcast-cap regime applies to either."""
    pdf, _, searcher = corpus
    for q in ["zephyr quantum", "quantum lattice drift"]:
        want = _py_phrase_topk(pdf, q, 10)
        _assert_topk_equal(searcher.topk_phrase(q, 10).collect(), want, 10)


# ------------- match_phrase_prefix (multi-slot block-max scorer) ------------


def _py_phrase_prefix_topk(pdf, query: str, k: int, max_expansions: int = 50):
    """Oracle: fixed terms align consecutively, ANY expansion of the last
    (prefix) term occupies the final slot; idf sums every fixed position
    plus every expansion (Lucene MultiPhraseQuery term stats)."""
    qt = py_tokenize(query)
    fixed, p = qt[:-1], qt[-1]
    toks = [py_tokenize(t) for t in pdf["text"]]
    vocab = sorted({t for d in toks for t in d})
    exps = [t for t in vocab if t.startswith(p)][:max_expansions]
    if not exps:
        return []
    n_docs = len(toks)
    avgdl = sum(len(t) for t in toks) / n_docs
    dfs = {
        t: sum(1 for d in toks if t in set(d)) for t in set(fixed) | set(exps)
    }
    if any(dfs[t] == 0 for t in fixed):
        return []
    idf = sum(lucene_idf(n_docs, dfs[t]) for t in fixed) + sum(
        lucene_idf(n_docs, dfs[t]) for t in exps
    )
    n = len(fixed) + 1
    eset = set(exps)
    out = []
    for doc_id, d in enumerate(toks):
        ptf = sum(
            1
            for i in range(len(d) - n + 1)
            if d[i : i + n - 1] == fixed and d[i + n - 1] in eset
        )
        if ptf:
            dl = len(d)
            score = idf * ptf * (codec.K1 + 1) / (
                ptf + codec.K1 * (1 - codec.B + codec.B * dl / avgdl)
            )
            out.append((doc_id, score))
    out.sort(key=lambda x: (-x[1], x[0]))
    return out[:k]


@pytest.mark.parametrize("query", ["zephyr qu", "quantum la", "ka"])
def test_phrase_prefix_matches_oracle(spark, corpus, query):
    pdf, _, searcher = corpus
    want = _py_phrase_prefix_topk(pdf, query, 10)
    assert want, f"fixture needs matches for {query!r}"
    got = searcher.topk_phrase_prefix(query, 10).collect()
    _assert_topk_equal(got, want, 10)


def test_phrase_prefix_single_expansion_equals_phrase(spark, corpus):
    """A prefix expanding to exactly one term IS that exact phrase —
    identical idf sum, identical matches."""
    pdf, _, searcher = corpus
    exps = searcher.expand_prefix("zeph")
    assert exps == ["zephyr"]
    a = [
        (r["doc_id"], round(r["score"], 9))
        for r in searcher.topk_phrase_prefix("quantum zeph", 10).collect()
    ]
    b = [
        (r["doc_id"], round(r["score"], 9))
        for r in searcher.topk_phrase("quantum zephyr", 10).collect()
    ]
    assert a == b


def test_phrase_prefix_truncates_expansions_sorted(spark, corpus):
    """max_expansions keeps the FIRST terms in sorted order (ES contract,
    no error) — oracle with the same truncation agrees."""
    pdf, _, searcher = corpus
    want = _py_phrase_prefix_topk(pdf, "ka", 10, max_expansions=1)
    got = searcher.topk_phrase_prefix("ka", 10, max_expansions=1).collect()
    _assert_topk_equal(got, want, 10)


def test_phrase_prefix_no_expansion_empty(spark, corpus):
    _, _, searcher = corpus
    assert searcher.topk_phrase_prefix("zephyr xyzzynope", 10).count() == 0


def test_phrase_prefix_allowed_filter(spark, corpus):
    pdf, built, searcher = corpus
    full = _py_phrase_prefix_topk(pdf, "zephyr qu", 10_000)
    allowed_df = built.doc_stats.where(F.col("turn_idx") % 2 == 0).select(
        "doc_id"
    )
    allowed_ids = {r["doc_id"] for r in allowed_df.collect()}
    want = [w for w in full if w[0] in allowed_ids][:10]
    got = searcher.topk_phrase_prefix(
        "zephyr qu", 10, allowed=allowed_df
    ).collect()
    _assert_topk_equal(got, want, 10)


def test_phrase_scored_fast_equals_dataframe_full_set(spark, corpus):
    """The bool-clause phrase path (_phrase_scored_fast, block-max range
    scorer with the per-range cap lifted) must return the SAME FULL
    (doc_id, score) set as the DataFrame reference twin (_phrase_scored),
    bit-exact — including a phrase with a repeated term."""
    _, _, searcher = corpus
    for phrase in ("zephyr quantum", "quantum lattice", "karo karo"):
        slow = searcher._phrase_scored(phrase)
        fast = searcher._phrase_scored_fast(phrase)
        if slow is None or fast is None:
            assert slow is None and fast is None
            continue
        want = {(r["doc_id"], r["score"]) for r in slow.collect()}
        got = {(r["doc_id"], r["score"]) for r in fast.collect()}
        assert got == want
    # absent-term phrase: both report unmatchable
    assert searcher._phrase_scored("zephyr qzxnope") is None
    assert searcher._phrase_scored_fast("zephyr qzxnope") is None


def test_prefilter_skipped_for_nonselective_rarest(spark):
    """r7 guard: a phrase whose RAREST term matches > half the corpus
    must skip the broadcast prefilter (pure overhead there), while a
    selective rarest term keeps it — results identical either way."""
    import pandas as pd

    rows = []
    for j in range(120):
        text = "alpha beta " + ("rareword " if j == 7 else "") + "w%d" % j
        rows.append(("c%03d" % j, 0, text))
    pdf = pd.DataFrame(rows, columns=["conv_id", "turn_idx", "text"])
    built = build_index(spark, spark.createDataFrame(pdf))
    s = Searcher(
        spark, built.postings, built.dictionary, built.n_docs, built.avgdl
    )
    uniq = ["alpha", "beta"]
    meta = s._term_meta(uniq + ["rareword"])
    assert meta["alpha"][0] > s.n_docs // 2  # fixture: both terms hot
    _, pre, rng = s._rare_prefilter(uniq, meta)
    assert pre is None and rng is None
    _, pre2, rng2 = s._rare_prefilter(sorted(["alpha", "rareword"]), meta)
    assert pre2 is not None and rng2 is not None
    want = _py_phrase_topk(pdf, "alpha beta", 10)
    _assert_topk_equal(
        s.topk_phrase_dataframe("alpha beta", 10).collect(), want, 10
    )
    built.release()
