"""Block-max pruning for conjunctive (operator:and) and filtered queries
(round-3 verdict item 3 — ES runs bool filters and conjunctions *inside*
WAND, so the fast path must too, not fall back to decode-everything).

Exactness contract: ``topk_blockmax(allowed=...)`` must be score- and
rank-identical to ``topk_filtered``; ``topk_blockmax_and`` identical to
``topk_and`` — with the DataFrame paths themselves already oracle-checked
against pure-Python BM25 (test_positional) and DuckDB (driver gate c1/f1).
Pruning contract: a selective filter / a rare conjunct must SKIP blocks
(skip_acc > 0), not decode them.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from rabbit_index_ingest_spark.index.build import build_index
from rabbit_index_ingest_spark.index.query import Searcher

N_DOCS = 2000
N_HOT = 20


@pytest.fixture(scope="module")
def skewed(spark):
    """Same shape as test_blockmax_pruning: 'hot' everywhere (tf=10 in the
    first 20 docs), 'rare' only in docs 100..109, pads elsewhere."""
    pad = " ".join(f"pad{j}" for j in range(30))
    rows = []
    for i in range(N_DOCS):
        if i < N_HOT:
            text = ("hot " * 10).strip()
        elif 100 <= i < 110:
            text = f"hot rare {pad}"
        else:
            text = f"hot {pad}"
        rows.append((f"c{i:05d}", 0, text))
    tdf = spark.createDataFrame(rows, "conv_id string, turn_idx int, text string")
    built = build_index(spark, tdf)
    built.postings = built.postings.persist()
    built.postings.count()
    s = Searcher(spark, built.postings, built.dictionary, built.n_docs, built.avgdl)
    yield built, s
    built.release()
    built.postings.unpersist()


def _top(rows):
    return [(r["doc_id"], round(r["score"], 9)) for r in rows]


# ---------------- filtered (bool filter inside the scorer) ----------------


def test_filtered_blockmax_equals_dataframe_path(spark, skewed):
    _, s = skewed
    allowed = spark.createDataFrame(
        [(i,) for i in range(100, 160)], "doc_id long"
    )
    fast = _top(s.topk_blockmax("hot rare", 10, allowed=allowed).collect())
    ref = _top(s.topk_filtered("hot rare", allowed, 10).collect())
    assert fast == ref
    assert len(fast) == 10


def test_filtered_blockmax_selective_filter_skips_blocks(spark, skewed):
    """A selective allow-list must prune the hot term's blocks undecoded:
    only blocks whose doc span intersects the allowed ids are touched."""
    _, s = skewed
    allowed = spark.createDataFrame([(150,), (151,)], "doc_id long")
    acc = spark.sparkContext.accumulator(0)
    fast = _top(s.topk_blockmax("hot", 10, allowed=allowed, skip_acc=acc).collect())
    ref = _top(s.topk_filtered("hot", allowed, 10).collect())
    assert fast == ref
    assert {d for d, _ in fast} == {150, 151}
    assert acc.value > 0, "selective filter pruned no blocks"


def test_filtered_blockmax_empty_allowlist(spark, skewed):
    _, s = skewed
    allowed = spark.createDataFrame([], "doc_id long")
    assert s.topk_blockmax("hot", 10, allowed=allowed).count() == 0


def test_filtered_blockmax_with_tombstones(spark, skewed):
    """Filter ∘ tombstones compose: both ride the same cogrouped side
    frame (kind 0/1) and mask at decode time."""
    built, _ = skewed
    dead_df = spark.createDataFrame([(100,), (101,)], "doc_id long")
    s = Searcher(
        spark, built.postings, built.dictionary, built.n_docs, built.avgdl,
        deleted_df=dead_df,
    )
    allowed = spark.createDataFrame(
        [(i,) for i in range(100, 120)], "doc_id long"
    )
    fast = _top(s.topk_blockmax("hot rare", 10, allowed=allowed).collect())
    ref = _top(s.topk_filtered("hot rare", allowed, 10).collect())
    assert fast == ref
    got = {d for d, _ in fast}
    assert not got & {100, 101}
    assert got <= set(range(102, 120))


# ---------------- conjunctive (operator:and inside the scorer) -------------


def test_and_blockmax_equals_dataframe_path(spark, skewed):
    _, s = skewed
    fast = _top(s.topk_blockmax_and("hot rare", 10).collect())
    ref = _top(s.topk_and("hot rare", 10).collect())
    assert fast == ref
    assert {d for d, _ in fast} == set(range(100, 110))


def test_and_blockmax_rare_conjunct_skips_blocks(spark, skewed):
    """'hot AND rare': the rare term's candidate set must prune the hot
    term's blocks (the leapfrog shape) — the old DataFrame path decoded
    every 'hot' block."""
    _, s = skewed
    acc = spark.sparkContext.accumulator(0)
    fast = _top(s.topk_blockmax_and("hot rare", 10, skip_acc=acc).collect())
    assert len(fast) == 10
    assert acc.value > 0, "rare conjunct pruned no hot blocks"


def test_and_blockmax_absent_term_empty(spark, skewed):
    _, s = skewed
    assert s.topk_blockmax_and("hot nosuchterm", 10).count() == 0
    assert s.topk_blockmax_and("", 10).count() == 0


def test_and_blockmax_single_term(spark, skewed):
    """Degenerate 1-term conjunction = plain match on that term."""
    _, s = skewed
    fast = _top(s.topk_blockmax_and("rare", 10).collect())
    ref = _top(s.topk_dataframe("rare", 10).collect())
    assert fast == ref


def test_and_blockmax_with_tombstones_and_filter(spark, skewed):
    built, _ = skewed
    dead_df = spark.createDataFrame([(103,), (104,)], "doc_id long")
    s = Searcher(
        spark, built.postings, built.dictionary, built.n_docs, built.avgdl,
        deleted_df=dead_df,
    )
    allowed = spark.createDataFrame(
        [(i,) for i in range(102, 108)], "doc_id long"
    )
    fast = _top(s.topk_blockmax_and("hot rare", 10, allowed=allowed).collect())
    ref = _top(s.topk_and("hot rare", 10, allowed=allowed).collect())
    assert fast == ref
    assert {d for d, _ in fast} == {102, 105, 106, 107}


def test_and_blockmax_matches_pure_python_oracle(spark):
    """Small mixed corpus, conjunctive scores against a from-scratch
    Python BM25 (not the engine's own DataFrame path)."""
    import math

    from rabbit_index_ingest_spark.analysis import py_tokenize
    from rabbit_index_ingest_spark.datagen import transcripts_pandas
    from rabbit_index_ingest_spark.index import codec
    from rabbit_index_ingest_spark.index.query import lucene_idf

    pdf = transcripts_pandas(n_conv=40)[["conv_id", "turn_idx", "text"]]
    pdf = pdf.sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    df = spark.createDataFrame(pdf)
    built = build_index(spark, df)
    s = Searcher(
        spark, built.postings, built.dictionary, built.n_docs, built.avgdl
    )
    query = "zephyr quantum"
    qterms = sorted(set(py_tokenize(query)))
    toks = [py_tokenize(t) for t in pdf["text"]]
    n_docs = len(toks)
    avgdl = sum(len(t) for t in toks) / n_docs
    dfs = {t: sum(1 for d in toks if t in set(d)) for t in qterms}
    want = []
    for doc_id, d in enumerate(toks):
        if not all(t in d for t in qterms):
            continue
        dl = len(d)
        score = sum(
            lucene_idf(n_docs, dfs[t])
            * d.count(t) * (codec.K1 + 1)
            / (d.count(t) + codec.K1 * (1 - codec.B + codec.B * dl / avgdl))
            for t in qterms
        )
        want.append((doc_id, score))
    want.sort(key=lambda x: (-x[1], x[0]))
    got = s.topk_blockmax_and(query, 10).collect()
    assert len(got) == min(10, len(want))
    for r, (wd, ws) in zip(got, want[:10]):
        assert r["doc_id"] == wd
        assert r["score"] == pytest.approx(ws, rel=1e-12)
    built.release()


def test_and_blockmax_range_prune_plan_is_metadata_only(spark, skewed, tmp_path):
    """The rarest-term range semi-join must read only partition/metadata
    columns of the postings scan (never the byte streams) — assert the
    pushed scan schema on a written index."""
    from rabbit_index_ingest_spark.index.store import IndexStore

    built, _ = skewed
    root = str(tmp_path / "idx")
    store = IndexStore(spark, root)
    store.save(built, segment=0)
    loaded = store.load()
    s = Searcher(
        spark, loaded.postings, loaded.dictionary, loaded.n_docs, loaded.avgdl
    )
    s._local_max_blocks = 0  # the distributed route (small queries run locally)
    plan = s.topk_blockmax_and("hot rare", 10)._jdf.queryExecution().toString()
    # two postings scans: the block scan (byte columns) and the rare-range
    # scan; the latter must not touch doc_bytes/tf_bytes/pos_bytes
    scans = [
        ln for ln in plan.splitlines() if "ReadSchema" in ln or "struct<" in ln
    ]
    meta_only = [
        ln for ln in scans
        if "range_id" in ln and "doc_bytes" not in ln and "pos_bytes" not in ln
    ]
    assert meta_only, f"no metadata-only postings scan in plan:\n{plan[:4000]}"


# ---------------- must_not (ES bool negative clause) ----------------


def test_must_not_equals_set_difference(spark, skewed):
    """topk_blockmax(excluded=E) == the unrestricted full result minus E
    (scores unchanged — must_not never affects stats or scoring)."""
    _, s = skewed
    big = 10_000_000
    full = _top(s.topk_blockmax("rare", big).collect())
    assert full
    excl = [d for d, _ in full[::2]]
    e_df = spark.createDataFrame([(int(d),) for d in excl], "doc_id long")
    got = _top(s.topk_blockmax("rare", big, excluded=e_df).collect())
    assert got == [(d, sc) for d, sc in full if d not in set(excl)]


def test_must_not_composes_with_filter(spark, skewed):
    """allowed ∧ ¬excluded — ES bool with both filter and must_not."""
    _, s = skewed
    big = 10_000_000
    allowed = spark.createDataFrame(
        [(i,) for i in range(100, 160)], "doc_id long"
    )
    e_df = spark.createDataFrame([(i,) for i in range(100, 105)], "doc_id long")
    base = _top(s.topk_blockmax("hot", big, allowed=allowed).collect())
    got = _top(
        s.topk_blockmax("hot", big, allowed=allowed, excluded=e_df).collect()
    )
    assert got == [(d, sc) for d, sc in base if not (100 <= d < 105)]


def test_must_not_skips_whole_span_blocks(spark, skewed):
    """Excluding a contiguous prefix covering whole posting blocks must
    SKIP those blocks undecoded (the must_not set masks at block-span
    level like tombstones); 'hot' is in every doc, so blocks partition
    doc_ids in 128-doc spans — excluding 0..255 makes the first two
    blocks span-empty."""
    _, s = skewed
    n_excl = 256
    e_df = spark.createDataFrame([(i,) for i in range(n_excl)], "doc_id long")
    acc = spark.sparkContext.accumulator(0)
    got = s.topk_blockmax("hot", 10, excluded=e_df, skip_acc=acc).collect()
    assert got and all(r["doc_id"] >= n_excl for r in got)
    assert acc.value > 0


def test_must_not_other_modes(spark, skewed):
    """excluded threads through every range-scorer kernel via the chassis:
    and/msm/dismax/multi-slot phrase/phrase/sloppy phrase/near/expansion
    and cursor paths."""
    built, s = skewed
    # the single-field index seen as a one-field multi-field index
    mf = Searcher(
        spark, built.postings, built.dictionary, built.n_docs, built.avgdl,
        field_stats={"text": (built.n_docs, built.avgdl)},
    )
    big = 10_000_000
    e_df = spark.createDataFrame([(i,) for i in range(100, 105)], "doc_id long")
    eset = set(range(100, 105))
    for fn in (
        lambda: s.topk_blockmax_and("hot rare", big, excluded=e_df),
        lambda: s.topk_msm("hot rare", big, msm=2, excluded=e_df),
        lambda: s.topk_dismax("hot rare", big, tie_breaker=0.5, excluded=e_df),
        lambda: mf.topk_multimatch("hot rare", {"text": 1.0}, big, excluded=e_df),
        lambda: s.topk_phrase_prefix("hot ra", big, excluded=e_df),
        lambda: s.topk_phrase("hot rare", big, excluded=e_df),
        lambda: s.topk_phrase("hot rare", big, slop=1, excluded=e_df),
        lambda: s.topk_near("hot rare", big, gap=2, excluded=e_df),
        lambda: s.topk_near_unordered("hot rare", big, slop=1, excluded=e_df),
        lambda: s.topk_prefix("rar", big, excluded=e_df),
        lambda: s.search_after("rare", big, after=(1e9, 0), excluded=e_df),
    ):
        ids = {r["doc_id"] for r in fn().collect()}
        assert ids, "mode returned nothing — fixture assumption broken"
        assert not (ids & eset), fn
