"""minimum_should_match retrieval (ES ``match`` + ``minimum_should_match``,
round-4 addition): a doc ranks when it matches at least ``msm`` of the
query's distinct terms, scored by the full BM25 sum over the terms it does
match. ``topk_msm`` is the block-pruned default; ``topk_msm_dataframe`` the
reference twin; the driver gate (c2_msm_topk) hash-checks the fast path
against DuckDB.

Exactness contract: fast path ≡ twin for every msm; msm=1 ≡ disjunction,
msm=n ≡ conjunction; absent (df=0) terms are unmatchable clauses that still
count toward the requirement. Pruning contract: once the remaining terms
can't lift a new doc to msm, hot blocks outside the viable set skip
undecoded.
"""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from rabbit_index_ingest_spark.analysis import py_tokenize
from rabbit_index_ingest_spark.datagen import transcripts_pandas
from rabbit_index_ingest_spark.index import codec
from rabbit_index_ingest_spark.index.build import build_index
from rabbit_index_ingest_spark.index.query import Searcher, lucene_idf


def _top(rows):
    return [(r["doc_id"], round(r["score"], 9)) for r in rows]


def _py_msm_topk(pdf, query, msm, k):
    """From-scratch Python BM25 with the minimum_should_match predicate —
    not the engine's own DataFrame path."""
    qterms = sorted(set(py_tokenize(query)))
    toks = [py_tokenize(t) for t in pdf["text"]]
    n_docs = len(toks)
    avgdl = sum(len(t) for t in toks) / n_docs
    dfs = {t: sum(1 for d in toks if t in set(d)) for t in qterms}
    present = [t for t in qterms if dfs[t] > 0]
    if len(present) < msm:
        return []
    want = []
    for doc_id, d in enumerate(toks):
        matched = [t for t in present if t in d]
        if len(matched) < msm:
            continue
        dl = len(d)
        score = sum(
            lucene_idf(n_docs, dfs[t])
            * d.count(t) * (codec.K1 + 1)
            / (d.count(t) + codec.K1 * (1 - codec.B + codec.B * dl / avgdl))
            for t in matched
        )
        want.append((doc_id, score))
    want.sort(key=lambda x: (-x[1], x[0]))
    return want[:k]


@pytest.fixture(scope="module")
def corpus(spark):
    pdf = transcripts_pandas(n_conv=40)[["conv_id", "turn_idx", "text"]]
    pdf = pdf.sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    built = build_index(spark, spark.createDataFrame(pdf))
    built.postings = built.postings.persist()
    built.postings.count()
    s = Searcher(
        spark, built.postings, built.dictionary, built.n_docs, built.avgdl
    )
    yield pdf, built, s
    built.release()
    built.postings.unpersist()


@pytest.mark.parametrize("msm", [1, 2, 3])
def test_msm_matches_python_oracle_and_twin(spark, corpus, msm):
    pdf, _, s = corpus
    q = "zephyr quantum lattice"
    want = _py_msm_topk(pdf, q, msm, 10)
    got = s.topk_msm(q, 10, msm=msm).collect()
    got_df = s.topk_msm_dataframe(q, 10, msm=msm).collect()
    assert [(r["doc_id"],) for r in got] == [(w[0],) for w in want]
    for r, (wd, ws) in zip(got, want):
        assert r["score"] == pytest.approx(ws, rel=1e-12)
    assert _top(got) == _top(got_df)


def test_msm_boundaries_match_or_and(spark, corpus):
    pdf, _, s = corpus
    q = "zephyr quantum lattice"
    assert _top(s.topk_msm(q, 10, msm=1).collect()) == _top(
        s.topk_dataframe(q, 10).collect()
    )
    assert _top(s.topk_msm(q, 10, msm=3).collect()) == _top(
        s.topk_and(q, 10).collect()
    )
    # more required matches than query terms: nothing can qualify
    assert s.topk_msm(q, 10, msm=4).count() == 0
    with pytest.raises(ValueError, match="msm must be"):
        s.topk_msm(q, 10, msm=0)


def test_msm_absent_term_still_matches_on_present(spark, corpus):
    """One absent clause: operator:and would return empty, but msm=2 over
    3 clauses must still rank docs matching both PRESENT terms."""
    pdf, _, s = corpus
    q = "zephyr quantum nosuchterm"
    want = _py_msm_topk(pdf, q, 2, 10)
    assert want, "fixture needs docs with both present terms"
    got = s.topk_msm(q, 10, msm=2).collect()
    assert _top(got) == _top(s.topk_msm_dataframe(q, 10, msm=2).collect())
    assert [r["doc_id"] for r in got] == [w[0] for w in want]
    # ...and msm=3 is unreachable with only 2 present clauses
    assert s.topk_msm(q, 10, msm=3).count() == 0


def test_msm_prunes_hot_blocks(spark):
    """'rare1 rare2 hot' with msm=2: after the two rare terms the viable
    set is fixed (the hot term is the last chance), so hot blocks whose
    span misses it must skip undecoded — and results stay twin-exact."""
    pad = " ".join(f"pad{j}" for j in range(20))
    rows = []
    for i in range(2000):
        extra = ""
        if 100 <= i < 105:
            extra = " rare1"
        elif 1200 <= i < 1205:
            extra = " rare2"
        rows.append((f"c{i:05d}", 0, f"hot{extra} {pad}"))
    tdf = spark.createDataFrame(rows, "conv_id string, turn_idx int, text string")
    built = build_index(spark, tdf, block_size=64)
    s = Searcher(
        spark, built.postings, built.dictionary, built.n_docs, built.avgdl
    )
    acc = spark.sparkContext.accumulator(0)
    got = _top(s.topk_msm("rare1 rare2 hot", 10, msm=2, skip_acc=acc).collect())
    ref = _top(s.topk_msm_dataframe("rare1 rare2 hot", 10, msm=2).collect())
    assert got == ref
    assert {d for d, _ in got} == set(range(100, 105)) | set(range(1200, 1205))
    assert acc.value > 0, "hot blocks outside the viable set were not skipped"
    built.release()


def test_msm_with_filter_and_tombstones(spark, corpus):
    pdf, built, _ = corpus
    dead_ids = [0, 1]
    dead_df = spark.createDataFrame([(i,) for i in dead_ids], "doc_id long")
    s = Searcher(
        spark, built.postings, built.dictionary, built.n_docs, built.avgdl,
        deleted_df=dead_df,
    )
    allowed = built.doc_stats.where(F.col("doc_id") % 2 == 0).select("doc_id")
    q = "zephyr quantum lattice"
    fast = _top(s.topk_msm(q, 10, msm=2, allowed=allowed).collect())
    ref = _top(s.topk_msm_dataframe(q, 10, msm=2, allowed=allowed).collect())
    assert fast == ref
    # twin-independent check: allowed∩live subset of the unfiltered oracle
    full = {d: sc for d, sc in _py_msm_topk(pdf, q, 2, 10_000)}
    for d, _sc in fast:
        assert d % 2 == 0 and d not in dead_ids and d in full


def test_msm_range_prune_plan_is_metadata_only(spark, corpus, tmp_path):
    """The countDistinct range semi-join must read only metadata columns
    of the postings scan (never the byte streams) on a written index."""
    from rabbit_index_ingest_spark.index.store import IndexStore

    _, built, _ = corpus
    store = IndexStore(spark, str(tmp_path / "idx"))
    store.save(built, segment=0)
    loaded = store.load()
    s = Searcher(
        spark, loaded.postings, loaded.dictionary, loaded.n_docs, loaded.avgdl
    )
    s._local_max_blocks = 0  # the distributed route (small queries run locally)
    plan = (
        s.topk_msm("zephyr quantum lattice", 10, msm=2)
        ._jdf.queryExecution()
        .toString()
    )
    scans = [
        ln for ln in plan.splitlines() if "ReadSchema" in ln or "struct<" in ln
    ]
    meta_only = [
        ln for ln in scans
        if "range_id" in ln and "doc_bytes" not in ln and "pos_bytes" not in ln
    ]
    assert meta_only, f"no metadata-only postings scan in plan:\n{plan[:4000]}"
    # saving released the module-scoped fixture's caches; rebuild them so
    # later tests in this module keep their persisted frames
    built.postings = built.postings.persist()
    built.postings.count()


def test_msm_and_expansions_on_multisegment_store(spark, tmp_path):
    """Upserted (multi-segment) stores merge dictionary stats per term —
    expansion (prefix/fuzzy) and msm must work unchanged on them."""
    import pandas as pd

    from rabbit_index_ingest_spark.index.store import IndexStore

    rows = [("c%03d" % i, 0, "zephyr quantum drift") for i in range(20)]
    pdf = pd.DataFrame(rows, columns=["conv_id", "turn_idx", "text"])
    store = IndexStore(spark, str(tmp_path / "idx"))
    store.save(build_index(spark, spark.createDataFrame(pdf)), segment=0)
    up = pd.DataFrame(
        [("d%03d" % i, 0, "zephyr lattice quill") for i in range(10)],
        columns=["conv_id", "turn_idx", "text"],
    )
    store.upsert(spark.createDataFrame(up))
    L = store.load()
    s = Searcher(
        spark, L.postings, L.dictionary, L.n_docs, L.avgdl,
        deleted_df=L.deleted_df,
    )
    # dictionary merged per term: prefix expansion has NO duplicates and
    # sees both segments' vocabulary
    assert s.expand_prefix("qu") == ["quantum", "quill"]
    assert s.expand_fuzzy("quill", fuzziness=1) == ["quill"]
    # msm=2 across segment boundaries: every doc matches >=2 of the terms
    got = s.topk_msm("zephyr quantum lattice", 50, msm=2).collect()
    assert len(got) == 30  # all docs: 20 match {zephyr,quantum}, 10 {zephyr,lattice}
    ref = s.topk_msm_dataframe("zephyr quantum lattice", 50, msm=2).collect()
    assert [(r["doc_id"], round(r["score"], 9)) for r in got] == [
        (r["doc_id"], round(r["score"], 9)) for r in ref
    ]
