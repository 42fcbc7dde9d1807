"""Sloppy phrase (ES match_phrase slop / Lucene SloppyPhraseQuery) and
unordered proximity (ES span_near in_order=false).

The reference delegates both to Elasticsearch 7.9.1; the engine owns them
natively via the minimal-window range scorer (_make_sloppy_range_scorer).
Every test checks against an independent pure-Python oracle over the raw
corpus — a per-doc forward scan, a deliberately different code path from
the engine's vectorized searchsorted sweep.
"""

from __future__ import annotations

from fractions import Fraction

import pytest

from rabbit_index_ingest_spark.analysis import py_tokenize
from rabbit_index_ingest_spark.datagen import transcripts_pandas
from rabbit_index_ingest_spark.index import codec
from rabbit_index_ingest_spark.index.build import build_index
from rabbit_index_ingest_spark.index.query import (
    MAX_SLOP,
    Searcher,
    lucene_idf,
)

# ---------------- pure-Python oracle ----------------


def _minimal_windows(slot_positions: list[list[int]]):
    """All minimal windows over adjusted per-slot position sets: for each
    event e (any slot's position), L(e) = min over slots of the largest
    position <= e; keep the first (smallest) e per distinct L."""
    events = sorted({p for ps in slot_positions for p in ps})
    wins: dict[int, int] = {}
    for e in events:
        lasts = []
        for ps in slot_positions:
            cands = [a for a in ps if a <= e]
            if not cands:
                lasts = None
                break
            lasts.append(max(cands))
        if lasts is None:
            continue
        left = min(lasts)
        if left not in wins:
            wins[left] = e
    return list(wins.items())


def _py_sloppy_topk(pdf, query: str, slop: int, k: int, ordered: bool = True):
    qterms = py_tokenize(query)
    uniq = sorted(set(qterms))
    slots = (
        [(t, i) for i, t in enumerate(qterms)]
        if ordered
        else [(t, 0) for t in uniq]
    )
    dist_base = 0 if ordered else len(slots) - 1
    toks = [py_tokenize(t) for t in pdf["text"]]
    n_docs = len(toks)
    avgdl = sum(len(t) for t in toks) / n_docs
    dfs = {t: sum(1 for d in toks if t in set(d)) for t in uniq}
    if any(dfs[t] == 0 for t in uniq):
        return []
    idf = sum(lucene_idf(n_docs, dfs[t]) for t in (qterms if ordered else uniq))
    out = []
    for doc_id, d in enumerate(toks):
        pos = {t: [i for i, x in enumerate(d) if x == t] for t in uniq}
        if any(not pos[t] for t in uniq):
            continue
        slot_positions = [[p - off for p in pos[t]] for t, off in slots]
        freq = Fraction(0)
        for left, right in _minimal_windows(slot_positions):
            dist = max((right - left) - dist_base, 0)
            if dist <= slop:
                freq += Fraction(1, 1 + dist)
        if freq > 0:
            f = float(freq)
            dl = len(d)
            score = idf * f * (codec.K1 + 1) / (
                f + codec.K1 * (1 - codec.B + codec.B * dl / avgdl)
            )
            out.append((doc_id, score))
    out.sort(key=lambda x: (-x[1], x[0]))
    return out[:k]


def _assert_topk_equal(got_rows, want, k):
    got = [(r["doc_id"], r["score"]) for r in got_rows]
    assert len(got) == min(k, len(want)), (got, want)
    for (gd, gs), (wd, ws) in zip(got, want[:k]):
        assert gd == wd
        assert gs == pytest.approx(ws, rel=1e-12)


# ---------------- fixtures ----------------


def _mk_corpus(spark, texts: list[str]):
    import pandas as pd

    pdf = pd.DataFrame(
        {
            "conv_id": [f"{i:06d}" for i in range(len(texts))],
            "turn_idx": [0] * len(texts),
            "text": texts,
        }
    )
    built = build_index(spark, spark.createDataFrame(pdf))
    searcher = Searcher(
        spark, built.postings, built.dictionary, built.n_docs, built.avgdl
    )
    return pdf, built, searcher


@pytest.fixture(scope="module")
def corpus(spark):
    pdf = (
        transcripts_pandas(n_conv=40)[["conv_id", "turn_idx", "text"]]
        .sort_values(["conv_id", "turn_idx"])
        .reset_index(drop=True)
    )
    built = build_index(spark, spark.createDataFrame(pdf))
    built.postings = built.postings.persist()
    built.postings.count()
    searcher = Searcher(
        spark, built.postings, built.dictionary, built.n_docs, built.avgdl
    )
    yield pdf, built, searcher
    built.release()
    built.postings.unpersist()


@pytest.fixture(scope="module")
def tiny(spark):
    """Hand-written corpus with known window structure. Vocabulary pads
    (pad/fill) keep dfs stable across docs."""
    texts = [
        "alpha beta pad pad pad",          # 0: exact "alpha beta"
        "beta alpha pad pad pad",          # 1: transposed — width 2
        "alpha pad beta pad pad",          # 2: one gap — width 1
        "alpha pad pad pad beta",          # 3: three gaps — width 3
        "pad pad pad pad pad",             # 4: no match ever
        "alpha beta pad alpha beta pad",   # 5: two exact occurrences
        "beta pad pad pad alpha",          # 6: reversed far — width 5
    ]
    pdf, built, searcher = _mk_corpus(spark, texts)
    yield pdf, built, searcher
    built.release()


# ---------------- sloppy phrase ----------------


def test_slop0_equals_exact_phrase(spark, corpus):
    """slop=0 routes through the sloppy scorer yet must be score-identical
    to the exact phrase scorer (width-0 minimal windows = phrase starts)."""
    _, _, searcher = corpus
    for q in ("zephyr quantum", "quantum lattice drift"):
        exact = searcher.topk_phrase(q, 10).collect()
        # slop=0 short-circuits to the exact scorer; force the sloppy one
        # by slop=0 semantics through the oracle check below AND compare
        # slop routing at the API level
        sloppy = searcher.topk_phrase(q, 10, slop=0).collect()
        assert [(r["doc_id"], r["score"]) for r in exact] == [
            (r["doc_id"], r["score"]) for r in sloppy
        ]


def test_sloppy_scorer_slop0_parity(spark, tiny):
    """The sloppy scorer ITSELF at slop=0 (not the exact-path shortcut)
    matches the exact phrase scorer bit-for-bit."""
    from pyspark.sql import functions as F

    from rabbit_index_ingest_spark.index.query import _make_sloppy_range_scorer

    _, built, searcher = tiny
    qterms = ["alpha", "beta"]
    meta = searcher._term_meta(qterms)
    idf = sum(lucene_idf(searcher.n_docs, meta[t][0]) for t in qterms)
    order = sorted(qterms, key=lambda t: (meta[t][0], t))
    scorer = _make_sloppy_range_scorer(
        idf, searcher.avgdl, 10, searcher.range_bits, order,
        [(t, i) for i, t in enumerate(qterms)], 0, True
    )
    blocks = searcher.postings.where(F.col("term").isin(qterms))
    got = (
        searcher._run_range_scorer(scorer, blocks, meta, positions=True)
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .collect()
    )
    want = searcher.topk_phrase("alpha beta", 10).collect()
    assert [(r["doc_id"], r["score"]) for r in got] == [
        (r["doc_id"], r["score"]) for r in want
    ]


def test_transposition_budget(spark, tiny):
    """ES-documented contract: transposed terms need slop=2."""
    pdf, _, searcher = tiny
    ids = lambda rows: sorted(r["doc_id"] for r in rows)
    s1 = ids(searcher.topk_phrase("alpha beta", 10, slop=1).collect())
    assert 1 not in s1 and 2 in s1 and 0 in s1  # gap-1 yes, transposed no
    s2 = ids(searcher.topk_phrase("alpha beta", 10, slop=2).collect())
    assert 1 in s2  # transposition costs exactly 2
    for slop in (1, 2, 3):
        want = _py_sloppy_topk(pdf, "alpha beta", slop, 10)
        got = searcher.topk_phrase("alpha beta", 10, slop=slop).collect()
        _assert_topk_equal(got, want, 10)


def test_sloppy_matches_oracle_transcripts(spark, corpus):
    pdf, _, searcher = corpus
    for q, slop in (
        ("zephyr quantum", 1),
        ("zephyr quantum", 3),
        ("quantum lattice drift", 2),
        ("karo quantum", 4),
    ):
        want = _py_sloppy_topk(pdf, q, slop, 10)
        got = searcher.topk_phrase(q, 10, slop=slop).collect()
        _assert_topk_equal(got, want, 10)


def test_sloppy_match_set_grows_with_slop(spark, corpus):
    _, _, searcher = corpus
    big = 10_000_000
    prev: set[int] = set()
    for slop in (0, 1, 2, 4, 8):
        cur = {
            r["doc_id"]
            for r in searcher.topk_phrase(
                "zephyr quantum", big, slop=slop
            ).collect()
        }
        assert prev <= cur, f"slop={slop} lost matches"
        prev = cur


def test_slop_cap(spark, corpus):
    _, _, searcher = corpus
    with pytest.raises(ValueError, match="slop"):
        searcher.topk_phrase("zephyr quantum", 10, slop=MAX_SLOP + 1).collect()


def test_sloppy_filtered_compose(spark, corpus):
    """allowed (ES bool filter) composes with sloppy phrase: result is the
    unfiltered result restricted to the allow set."""
    pdf, _, searcher = corpus
    big = 10_000_000
    full = searcher.topk_phrase("zephyr quantum", big, slop=2).collect()
    assert full, "need matches for a meaningful filter test"
    allow_ids = [r["doc_id"] for i, r in enumerate(full) if i % 2 == 0]
    allowed = spark.createDataFrame(
        [(int(d),) for d in allow_ids], "doc_id long"
    )
    got = searcher.topk_phrase(
        "zephyr quantum", big, slop=2, allowed=allowed
    ).collect()
    want = [
        (r["doc_id"], r["score"]) for r in full if r["doc_id"] in set(allow_ids)
    ]
    assert [(r["doc_id"], r["score"]) for r in got] == want


# ---------------- unordered proximity ----------------


def test_unordered_adjacent_any_order(spark, tiny):
    """slop=0 unordered: terms adjacent in either order match."""
    pdf, _, searcher = tiny
    got = searcher.topk_near_unordered("alpha beta", 10, slop=0).collect()
    ids = sorted(r["doc_id"] for r in got)
    assert 0 in ids and 1 in ids and 5 in ids  # both orders adjacent
    assert 2 not in ids and 4 not in ids       # one slack token / no beta


def test_unordered_matches_oracle(spark, tiny):
    pdf, _, searcher = tiny
    for slop in (0, 1, 3, 5):
        want = _py_sloppy_topk(pdf, "alpha beta", slop, 10, ordered=False)
        got = searcher.topk_near_unordered("alpha beta", 10, slop=slop).collect()
        _assert_topk_equal(got, want, 10)


def test_unordered_matches_oracle_transcripts(spark, corpus):
    pdf, _, searcher = corpus
    for q, slop in (
        ("zephyr quantum", 0),
        ("zephyr quantum", 2),
        ("quantum lattice drift", 3),
    ):
        want = _py_sloppy_topk(pdf, q, slop, 10, ordered=False)
        got = searcher.topk_near_unordered(q, 10, slop=slop).collect()
        _assert_topk_equal(got, want, 10)


def test_unordered_superset_of_ordered_sloppy(spark, corpus):
    """Every doc an in-order chain reaches within the budget is also an
    unordered match at a sufficient slop (sanity cross-check)."""
    _, _, searcher = corpus
    big = 10_000_000
    ordered = {
        r["doc_id"]
        for r in searcher.topk_phrase("zephyr quantum", big, slop=3).collect()
    }
    unordered = {
        r["doc_id"]
        for r in searcher.topk_near_unordered(
            "zephyr quantum", big, slop=3
        ).collect()
    }
    assert ordered <= unordered


def test_sloppy_randomized_parity(spark):
    """Randomized cross-check (seeded): small random corpora over a tiny
    alphabet maximize window collisions — repeated terms, ties, overlaps
    — and the engine must match the independent forward-scan oracle on
    every (query, slop, ordered) combination."""
    import random

    rng = random.Random(4242)
    alphabet = ["aa", "bb", "cc", "dd"]
    texts = [
        " ".join(rng.choice(alphabet) for _ in range(rng.randint(3, 24)))
        for _ in range(40)
    ]
    pdf, built, searcher = _mk_corpus(spark, texts)
    try:
        queries = ["aa bb", "bb aa cc", "aa aa", "cc dd bb"]
        for q in queries:
            for slop in (0, 1, 2, 5):
                want = _py_sloppy_topk(pdf, q, slop, 1000, ordered=True)
                got = searcher.topk_phrase(q, 1000, slop=slop).collect()
                _assert_topk_equal(got, want, 1000)
                want_u = _py_sloppy_topk(pdf, q, slop, 1000, ordered=False)
                got_u = searcher.topk_near_unordered(q, 1000, slop=slop).collect()
                _assert_topk_equal(got_u, want_u, 1000)
    finally:
        built.release()
