"""Scorer transport routing (Searcher._run_range_scorer): a query whose
estimated block count is below the threshold, that has no allow- or
deny-list and whose tombstone table holds at most the tombstone cap is
scored on the driver over blocks (and tombstones) read from the term
source — the store's files for a loaded store, collected frames
otherwise; every other query runs the grouped or cogrouped pandas-UDF
stage. Both routes and both sources run the same kernels behind the
same masking body, so results (doc_id and the exact score) and the
skipped-block total must be identical.
"""

from __future__ import annotations

import dataclasses
import os

import pytest
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from rabbit_index_ingest_spark.analysis import py_tokenize
from rabbit_index_ingest_spark.datagen import VOCAB, transcripts_df, transcripts_pandas
from rabbit_index_ingest_spark.index import codec
from rabbit_index_ingest_spark.index.build import build_index
from rabbit_index_ingest_spark.index.query import (
    Searcher,
    _LOCAL_MAX_BLOCKS,
    _estimated_blocks,
    _FrameSource,
)
from rabbit_index_ingest_spark.index.store import IndexStore, StoreFiles, store_files

N_CONV = 300
RANGE_BITS = 8  # several doc ranges, so the local route groups too
BLOCK_SIZE = 16

LOCAL = 10**12  # every query is below it
DISTRIBUTED = 0  # no query is below it


@pytest.fixture(scope="module")
def corpus(spark):
    built = build_index(
        spark, transcripts_df(spark, n_conv=N_CONV),
        range_bits=RANGE_BITS, block_size=BLOCK_SIZE,
    )
    yield built, _bigram()
    built.release()


def _bigram() -> str:
    """A bigram that occurs in the corpus (conversation 0), for the
    positional kernels."""
    return " ".join(py_tokenize(transcripts_pandas(N_CONV)["text"].iloc[3])[:2])


@pytest.fixture(scope="module")
def stored(spark, tmp_path_factory):
    """The corpus saved as a two-segment store — conversations 0-199 in
    segment 0, the rest numbered on in segment 1, so one doc range holds
    blocks of both — with the ``_dead`` ids deleted, and loaded.
    ``load()`` rejects a range layout other than the engine's, so it
    loads this one with its guard set to the module's ``RANGE_BITS``."""
    from rabbit_index_ingest_spark.index import store as store_mod

    t = transcripts_df(spark, n_conv=N_CONV)
    first = F.col("conv_id") < f"conv-{200:08d}"
    store = IndexStore(spark, str(tmp_path_factory.mktemp("parity") / "idx"))
    n = 0
    for seg, part in enumerate((t.where(first), t.where(~first))):
        built = build_index(
            spark, part, range_bits=RANGE_BITS, block_size=BLOCK_SIZE, id_base=n
        )
        store.save(built, segment=seg)
        n += built.n_docs
    assert n % (1 << RANGE_BITS)  # segment 1 starts inside a range
    dead_df, dead = _dead(spark)
    store.delete_matching(dead_df)
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(store_mod, "RANGE_BITS", RANGE_BITS)
        loaded = store.load()
    assert store.segments() == [0, 1] and loaded.n_docs == n
    return loaded, dead


def _frames_only(loaded):
    """``loaded`` with its frames as new objects over the same plans: no
    file source, so a Searcher over them takes the DataFrame source."""
    def same(df):
        return None if df is None else type(df)(df._jdf, df.sparkSession)

    return dataclasses.replace(
        loaded, postings=same(loaded.postings), dictionary=same(loaded.dictionary),
        deleted_df=same(loaded.deleted_df),
    )


def _searcher(spark, built, route: int | None, **kw) -> Searcher:
    # the single-field index seen as a one-field multi-field index, so
    # multi_match runs too
    s = Searcher(
        spark, built.postings, built.dictionary, built.n_docs, built.avgdl,
        range_bits=RANGE_BITS, field_stats={"text": (built.n_docs, built.avgdl)},
        **kw,
    )
    if route is not None:  # None keeps the default threshold
        s._local_max_blocks = route
    return s


def _plan(df: DataFrame) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _modes(bigram: str):
    q2 = f"{VOCAB[0]} {VOCAB[3]}"
    q4 = f"{VOCAB[0]} {VOCAB[1]} {VOCAB[5]} {VOCAB[9]}"
    head = bigram.split()[0]
    return {
        "or": lambda s, acc: s.topk_blockmax(q4, 10, skip_acc=acc),
        "or_boosted": lambda s, acc: s.topk_blockmax(
            q2, 7, skip_acc=acc, boosts={VOCAB[0]: 2.0}
        ),
        "and": lambda s, acc: s.topk_blockmax_and(q2, 10, skip_acc=acc),
        "msm": lambda s, acc: s.topk_msm(q4, 10, msm=2, skip_acc=acc),
        "dismax": lambda s, acc: s.topk_dismax(
            q4, 10, tie_breaker=0.3, skip_acc=acc
        ),
        "multimatch": lambda s, acc: s.topk_multimatch(
            q2, {"text": 1.0}, 10, skip_acc=acc
        ),
        "search_after": lambda s, acc: s.search_after(
            q2, 10, after=(3.0, 50), skip_acc=acc
        ),
        "phrase": lambda s, acc: s.topk_phrase(bigram, 10, skip_acc=acc),
        "sloppy_phrase": lambda s, acc: s.topk_phrase(
            bigram, 10, slop=2, skip_acc=acc
        ),
        "phrase_prefix": lambda s, acc: s.topk_phrase_prefix(
            f"{head} {VOCAB[0][:2]}", 10, skip_acc=acc
        ),
        "span_near": lambda s, acc: s.topk_near(q2, 10, gap=3, skip_acc=acc),
        "span_near_unordered": lambda s, acc: s.topk_near_unordered(
            q2, 10, slop=2, skip_acc=acc
        ),
        # constant-score expansions: the chassis runs them with k=None
        "prefix": lambda s, acc: s.topk_prefix(VOCAB[0][:2], 25, skip_acc=acc),
        "wildcard": lambda s, acc: s.topk_wildcard(
            VOCAB[1][:1] + "*", 25, skip_acc=acc
        ),
        "fuzzy": lambda s, acc: s.topk_fuzzy(VOCAB[2], 25, skip_acc=acc),
        # the full phrase match set of a bool clause, k=None
        "phrase_scored": lambda s, acc: s._phrase_scored_fast(bigram),
    }


def _run(spark, s, fn):
    acc = spark.sparkContext.accumulator(0)
    df = fn(s, acc)
    rows = sorted(
        ((r["doc_id"], repr(r["score"])) for r in df.collect()),
        key=lambda x: (-float(x[1]), x[0]),
    )
    return df, rows, acc.value


def _dead(spark) -> tuple[DataFrame, set[int]]:
    """A tombstone table: every third doc of range 0 and every doc of
    range 1."""
    ids = {*range(0, 1 << RANGE_BITS, 3), *range(1 << RANGE_BITS, 2 << RANGE_BITS)}
    return spark.createDataFrame([(i,) for i in sorted(ids)], "doc_id long"), ids


def test_routes_agree_for_every_kernel(spark, stored):
    """Every mode on a two-segment store, without and with its tombstone
    table (one doc range of it all dead), on the local route over the
    file source and over the DataFrame source and on the distributed
    route: identical rows and skip totals. The local routes plan no
    pandas stage, the distributed one a grouped stage, or a cogrouped one
    over the tombstones."""
    loaded, dead = stored
    frames = _frames_only(loaded)
    assert loaded.n_docs > 2 << RANGE_BITS
    for tombstones, stage in ((False, "FlatMapGroupsInPandas"),
                              (True, "FlatMapCoGroupsInPandas")):
        def make(idx, route):
            return _searcher(
                spark, idx, route, deleted_df=idx.deleted_df if tombstones else None
            )

        files, frame, dist = make(loaded, LOCAL), make(frames, LOCAL), make(loaded, DISTRIBUTED)
        assert isinstance(files._source, StoreFiles)
        assert isinstance(frame._source, _FrameSource)
        for name, fn in _modes(_bigram()).items():
            fdf, frows, fskip = _run(spark, files, fn)
            ldf, lrows, lskip = _run(spark, frame, fn)
            ddf, drows, dskip = _run(spark, dist, fn)
            assert frows, f"{name}: fixture query matched nothing"
            assert frows == lrows == drows, (name, stage)
            assert fskip == lskip == dskip, (name, stage, fskip, lskip, dskip)
            assert "GroupsInPandas" not in _plan(fdf), name
            assert "GroupsInPandas" not in _plan(ldf), name
            assert stage in _plan(ddf), name
            if tombstones:
                assert not {d for d, _ in frows} & dead, name


def test_file_source_reads_what_the_frames_collect(spark, stored):
    """The file source hands the kernels the DataFrame source's inputs:
    the same block rows in the same order, columns and dtypes (bytes for
    the binary columns), the same combined term stats over both segments
    and the same tombstone ids."""
    import numpy as np
    import pandas as pd

    from rabbit_index_ingest_spark.index.query import _SCORE_COLS

    loaded, dead = stored
    files = store_files(loaded.postings)
    frame = _FrameSource(loaded.postings, loaded.dictionary, loaded.deleted_df)
    terms = [VOCAB[0], VOCAB[1], VOCAB[5], VOCAB[9], "absentterm"]
    cols = [*_SCORE_COLS, "pos_bytes"]
    got, want = files.blocks(terms, cols), frame.blocks(terms, cols)
    pd.testing.assert_frame_equal(got, want)
    assert type(got["doc_bytes"].iloc[0]) is bytes
    assert files.meta(terms) == frame.meta(terms)
    assert "absentterm" not in files.meta(terms)
    assert set(files.dead_ids(10**6).tolist()) == dead
    assert np.array_equal(np.sort(files.dead_ids(10**6)), np.sort(frame.dead_ids(10**6)))


def test_or_query_skips_blocks_on_both_routes(spark, corpus):
    """The parity above must not be the trivial 0 == 0 for every mode."""
    built, _ = corpus
    q = f"{VOCAB[0]} {VOCAB[1]}"
    skips = []
    for route in (LOCAL, DISTRIBUTED):
        acc = spark.sparkContext.accumulator(0)
        _searcher(spark, built, route).topk_blockmax(q, 3, skip_acc=acc).collect()
        skips.append(acc.value)
    assert skips[0] == skips[1] > 0, skips


@pytest.mark.parametrize("side", ["tombstones", "allowed", "excluded", "both"])
def test_side_frames_stay_distributed(spark, corpus, side):
    """An allow- or deny-list always takes the cogrouped stage, even far
    below the threshold: those frames never reach the driver. A
    tombstone table takes the local route up to the tombstone cap and
    the cogrouped stage above it (cap set per instance)."""
    built, _ = corpus
    ids = spark.createDataFrame([(i,) for i in range(0, 400, 3)], "doc_id long")
    kw = {"deleted_df": ids} if side == "tombstones" else {}
    q = f"{VOCAB[0]} {VOCAB[3]}"
    allowed = ids if side in ("allowed", "both") else None
    excluded = (
        spark.createDataFrame([(i,) for i in range(0, 400, 7)], "doc_id long")
        if side in ("excluded", "both") else None
    )
    # the tombstone case: at the cap (134 ids) local, one below it cogrouped
    caps = (134, 133) if side == "tombstones" else (None,)
    d = _searcher(spark, built, DISTRIBUTED, **kw)
    want = d.topk_blockmax(q, 10, allowed=allowed, excluded=excluded).collect()
    for cap in caps:
        s = _searcher(spark, built, LOCAL, **kw)
        if cap is not None:
            s._local_max_tombstones = cap
        cogrouped = cap != 134
        for df in (
            s.topk_blockmax(q, 10, allowed=allowed, excluded=excluded),
            s.topk_phrase(q, 10, allowed=allowed, excluded=excluded),
            s.topk_prefix(VOCAB[0][:2], 10, allowed=allowed, excluded=excluded),
        ):
            assert ("FlatMapCoGroupsInPandas" in _plan(df)) == cogrouped, (side, cap)
        # and the answer equals the forced-distributed one
        got = s.topk_blockmax(q, 10, allowed=allowed, excluded=excluded).collect()
        assert got == want, (side, cap)


def test_tombstone_cap_boundary_picks_the_route(spark, corpus, monkeypatch):
    """A tombstone table of exactly the cap's rows is collected once per
    Searcher and its queries take the local route; one row over the cap
    sends them to the cogrouped stage, and the over-cap table is not
    collected again by later queries."""
    built, _ = corpus
    dead_df, dead = _dead(spark)
    q = f"{VOCAB[0]} {VOCAB[3]}"
    collects = []
    cls = type(dead_df)
    orig = cls.toArrow

    def spy(self):
        collects.append(1)
        return orig(self)

    monkeypatch.setattr(cls, "toArrow", spy)
    results = []
    for cap, cogrouped in ((len(dead), False), (len(dead) - 1, True)):
        s = _searcher(spark, built, LOCAL, deleted_df=dead_df)
        s._local_max_tombstones = cap
        collects.clear()
        plans = [_plan(s.topk_blockmax(q, 10)), _plan(s.topk_phrase(q, 10))]
        assert len(collects) == 1, cap
        for plan in plans:
            assert ("FlatMapCoGroupsInPandas" in plan) == cogrouped, cap
            assert "FlatMapGroupsInPandas" not in plan, cap
        results.append(s.topk_blockmax(q, 10).collect())
    assert results[0] == results[1]


def test_stored_tombstone_cap_boundary_picks_the_route(spark, stored, monkeypatch):
    """The file source's twin of the test above: a tombstone table of
    exactly the cap's rows is read once per Searcher, each file once, and
    its queries take the local route; one row over the cap, the files'
    footers alone send the queries to the cogrouped stage — no tombstone
    file is read and nothing is collected, by the first query or later
    ones."""
    import pyarrow.parquet as pq

    loaded, dead = stored
    q = f"{VOCAB[0]} {VOCAB[3]}"
    tomb_files = store_files(loaded.deleted_df)._tombstones
    assert tomb_files
    reads, collects = [], []
    read_table = pq.read_table

    def spy_read(source, *args, **kwargs):
        reads.append(str(source))
        return read_table(source, *args, **kwargs)

    cls = type(loaded.postings)
    to_arrow, to_pandas = cls.toArrow, cls.toPandas
    monkeypatch.setattr(pq, "read_table", spy_read)
    monkeypatch.setattr(cls, "toArrow", lambda self: collects.append(1) or to_arrow(self))
    monkeypatch.setattr(cls, "toPandas", lambda self: collects.append(1) or to_pandas(self))
    results = []
    for cap, cogrouped in ((len(dead), False), (len(dead) - 1, True)):
        s = _searcher(spark, loaded, LOCAL, deleted_df=loaded.deleted_df)
        s._local_max_tombstones = cap
        reads.clear()
        plans = [_plan(s.topk_blockmax(q, 10)), _plan(s.topk_phrase(q, 10))]
        assert not collects, cap
        tomb_reads = sorted(r for r in reads if f"{os.sep}_tombstones{os.sep}" in r)
        assert tomb_reads == ([] if cogrouped else sorted(tomb_files)), cap
        for plan in plans:
            assert ("FlatMapCoGroupsInPandas" in plan) == cogrouped, cap
            assert "FlatMapGroupsInPandas" not in plan, cap
        results.append(s.topk_blockmax(q, 10).collect())
    assert results[0] == results[1]


def test_threshold_boundary_picks_the_route(spark, corpus):
    """At the threshold the query runs the grouped pandas stage; one block
    below it, the local route."""
    built, _ = corpus
    q = f"{VOCAB[0]} {VOCAB[1]}"
    s = _searcher(spark, built, DISTRIBUTED)
    est = _estimated_blocks(s._term_meta(sorted(set(q.split()))))
    assert est > 0
    s._local_max_blocks = est
    above = s.topk_blockmax(q, 10)
    assert "FlatMapGroupsInPandas" in _plan(above)
    s._local_max_blocks = est + 1
    below = s.topk_blockmax(q, 10)
    assert "FlatMapGroupsInPandas" not in _plan(below)
    assert "LocalTableScan" in _plan(below)
    assert below.collect() == above.collect()


def test_default_threshold_routes_a_large_query_distributed(spark, corpus):
    """A default Searcher sends a query of at least ``_LOCAL_MAX_BLOCKS``
    estimated blocks to the grouped stage and a small one to the driver."""
    built, _ = corpus
    s = _searcher(spark, built, None)
    assert s._local_max_blocks == _LOCAL_MAX_BLOCKS
    q = VOCAB[0]
    # the term's cached dictionary stats claim the threshold's block count
    s._df_cache[q] = (_LOCAL_MAX_BLOCKS * codec.BLOCK_SIZE, 1, 1)
    assert _estimated_blocks(s._term_meta([q])) == _LOCAL_MAX_BLOCKS
    big = s.topk_blockmax(q, 10)
    assert "FlatMapGroupsInPandas" in _plan(big)
    small = _searcher(spark, built, None).topk_blockmax(q, 10)
    assert "FlatMapGroupsInPandas" not in _plan(small)


def test_local_collect_is_bucket_pruned_and_labelled(spark, monkeypatch, tmp_path):
    """The local route reads only the query terms' storage partitions. On
    a loaded store the query opens only those terms' ``bucket=B`` files
    (dictionary and postings) and runs no Spark job. Over a BuiltIndex's
    frames its one block collect filters on ``bucket`` and runs under a
    job description naming the query and the route."""
    import pyarrow.parquet as pq
    from test_store_and_streaming import _jobs_of

    from rabbit_index_ingest_spark.functions.hashing import term_bucket
    from rabbit_index_ingest_spark.index.build import N_TERM_BUCKETS

    t = transcripts_df(spark, n_conv=30)
    store = IndexStore(spark, str(tmp_path / "idx"))
    store.save(build_index(spark, t), segment=0)
    loaded = store.load()
    q = f"{VOCAB[0]} {VOCAB[1]} {VOCAB[2]} {VOCAB[4]}"
    opened = []
    read_table = pq.read_table

    def spy_read(source, *args, **kwargs):
        opened.append(str(source))
        return read_table(source, *args, **kwargs)

    monkeypatch.setattr(pq, "read_table", spy_read)
    s = Searcher(
        spark, loaded.postings, loaded.dictionary, loaded.n_docs, loaded.avgdl
    )
    rows = []
    jobs = _jobs_of(spark, lambda: rows.append(s.topk_blockmax(q, 10).collect()))
    assert jobs == {}, jobs
    assert len(rows[0]) == 10
    buckets = {f"bucket={term_bucket(w, N_TERM_BUCKETS)}" for w in q.split()}
    assert {p.split(os.sep)[-4] for p in opened} == {"dictionary", "postings"}
    assert {p.split(os.sep)[-2] for p in opened} == buckets, opened

    built = build_index(spark, t)
    seen = []
    cls = type(built.postings)  # the session's DataFrame implementation
    orig = cls.toPandas

    def spy(self):
        seen.append(
            (
                _plan(self),
                spark.sparkContext.getLocalProperty("spark.job.description"),
            )
        )
        return orig(self)

    monkeypatch.setattr(cls, "toPandas", spy)
    s = Searcher(spark, built.postings, built.dictionary, built.n_docs, built.avgdl)
    assert s.topk_blockmax(q, 10).collect() == rows[0]
    built.release()
    assert len(seen) == 1
    plan, desc = seen[0]
    assert "bucket#" in plan[plan.index("InMemoryTableScan"):][:800], plan
    assert desc == "topk_blockmax k=10 terms=4 route=local"
    # the caller's description is restored afterwards
    assert spark.sparkContext.getLocalProperty("spark.job.description") is None
