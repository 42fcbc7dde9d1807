"""Block-max pruning: the scorer must (a) actually skip provably-sub-θ
blocks — including on single-term queries, where a per-term-only θ never
prunes — and (b) stay exact while doing so, including when tombstoned docs
are the top scorers (regression for the decode-time-masking bug: deleted
docs must not contribute to θ, or blocks holding live top-k docs get
skipped and the fast path silently diverges from topk_dataframe)."""

import pytest

from rabbit_index_ingest_spark.index.build import build_index
from rabbit_index_ingest_spark.index.query import Searcher

N_DOCS = 2000
N_HOT = 20  # docs where the query term has tf=10 (the top scorers)


@pytest.fixture(scope="module")
def skewed_index(spark):
    """2000 single-turn docs; the term 'hot' appears tf=10 in the first 20
    docs (short dl) and tf=1 in the rest (long dl) — so the top-k is
    decided early and later blocks are provably below θ."""
    pad = " ".join(f"pad{j}" for j in range(30))
    rows = [
        (
            f"c{i:05d}",
            0,
            ("hot " * 10).strip() if i < N_HOT else f"hot {pad}",
        )
        for i in range(N_DOCS)
    ]
    tdf = spark.createDataFrame(rows, "conv_id string, turn_idx int, text string")
    built = build_index(spark, tdf)
    built.postings = built.postings.persist()
    built.postings.count()
    return built


def _top(rows):
    return [(r["doc_id"], round(r["score"], 6)) for r in rows]


def test_single_term_query_skips_blocks_and_stays_exact(spark, skewed_index):
    built = skewed_index
    s = Searcher(spark, built.postings, built.dictionary, built.n_docs, built.avgdl)
    acc = spark.sparkContext.accumulator(0)
    fast = _top(s.topk_blockmax("hot", 10, skip_acc=acc).collect())
    ref = _top(s.topk_dataframe("hot", 10).collect())
    assert fast == ref
    # all 20 hot docs tie on score; tie-break (score desc, doc_id asc) → 0..9
    assert [d for d, _ in fast] == list(range(10))
    assert acc.value > 0, "no blocks were pruned on the skewed hot-term query"


def test_theta_is_tombstone_free(spark, skewed_index):
    """Tombstone ALL the high-tf docs: with decode-time masking the fast
    path returns the (much lower-scoring) live docs exactly; with
    end-masking only, θ seeded by the dead docs would skip every live
    block and return nothing."""
    built = skewed_index
    dead = set(range(N_HOT))
    dead_df = spark.createDataFrame([(i,) for i in sorted(dead)], "doc_id long")
    s_df = Searcher(
        spark, built.postings, built.dictionary, built.n_docs, built.avgdl,
        deleted_df=dead_df,
    )
    ref = _top(s_df.topk_dataframe("hot", 10).collect())
    assert len(ref) == 10
    assert not {d for d, _ in ref} & dead
    assert _top(s_df.topk_blockmax("hot", 10).collect()) == ref


def test_theta0_probe_seeds_pruning_and_stays_exact(spark, skewed_index):
    """probe_min_blocks=1 forces the global-θ₀ seed probe: results must be
    identical to the reference scorer and at least as many blocks must be
    pruned as without the seed (the seed can only raise θ)."""
    built = skewed_index
    seeded = Searcher(
        spark, built.postings, built.dictionary, built.n_docs, built.avgdl,
        probe_min_blocks=1,
    )
    unseeded = Searcher(
        spark, built.postings, built.dictionary, built.n_docs, built.avgdl,
    )
    # the multi-term query's pad docs are 1,980 exact ties — nothing is
    # provably sub-θ there, so skips are only asserted for the skewed
    # single-term query; exactness is asserted for both
    for q, expect_skips in (("hot", True), ("hot pad0 pad29", False)):
        acc_s = spark.sparkContext.accumulator(0)
        acc_u = spark.sparkContext.accumulator(0)
        fast = _top(seeded.topk_blockmax(q, 10, skip_acc=acc_s).collect())
        base = _top(unseeded.topk_blockmax(q, 10, skip_acc=acc_u).collect())
        ref = _top(seeded.topk_dataframe(q, 10).collect())
        assert fast == ref == base
        assert acc_s.value >= acc_u.value
        if expect_skips:
            assert acc_u.value > 0
    # the probe itself computed a positive lower bound on the kth score
    plan = seeded._plan("hot")
    idfs, blocks, meta = plan
    theta0 = seeded._seed_theta0(idfs, meta, blocks, 10)
    assert theta0 > 0.0


def test_theta0_probe_masks_driver_side_tombstones(spark, skewed_index):
    """Tombstoning the hot docs must flow into the probe (its tiny
    semi-join of the probed docs against the tombstone table): θ₀ from
    dead docs would over-prune and drop live results."""
    built = skewed_index
    dead = set(range(N_HOT))
    s = Searcher(
        spark, built.postings, built.dictionary, built.n_docs, built.avgdl,
        deleted_df=spark.createDataFrame(
            [(i,) for i in sorted(dead)], "doc_id long"
        ),
        probe_min_blocks=1,
    )
    ref = _top(s.topk_dataframe("hot", 10).collect())
    assert len(ref) == 10 and not {d for d, _ in ref} & dead
    assert _top(s.topk_blockmax("hot", 10).collect()) == ref


def test_theta0_probe_seeds_with_distributed_tombstone_table(spark, skewed_index):
    """The CLI-default query path passes tombstones as a DataFrame
    (deleted_df); the θ₀ probe must still seed — liveness of the probed
    docs is checked with one tiny semi-join instead of giving up (round-2
    verdict item 1: without this, a 10^12-doc index with one tombstone
    loses global seeding entirely)."""
    built = skewed_index
    dead = set(range(5))  # tombstone a few hot docs — probe must drop them
    dead_df = spark.createDataFrame([(i,) for i in sorted(dead)], "doc_id long")
    seeded = Searcher(
        spark, built.postings, built.dictionary, built.n_docs, built.avgdl,
        deleted_df=dead_df, probe_min_blocks=1,
    )
    unseeded = Searcher(
        spark, built.postings, built.dictionary, built.n_docs, built.avgdl,
        deleted_df=dead_df,
    )
    idfs, blocks, meta = seeded._plan("hot")
    theta0 = seeded._seed_theta0(idfs, meta, blocks, 10)
    assert theta0 > 0.0
    acc_s = spark.sparkContext.accumulator(0)
    acc_u = spark.sparkContext.accumulator(0)
    fast = _top(seeded.topk_blockmax("hot", 10, skip_acc=acc_s).collect())
    base = _top(unseeded.topk_blockmax("hot", 10, skip_acc=acc_u).collect())
    ref = _top(seeded.topk_dataframe("hot", 10).collect())
    assert fast == ref == base
    assert len(ref) == 10 and not {d for d, _ in ref} & dead
    assert acc_s.value >= acc_u.value
    assert acc_s.value > 0


def test_theta0_probe_with_fewer_than_k_live_probed_docs(spark, skewed_index):
    """Tombstone nearly every doc the probe would decode (its ⌈k/128⌉+1 =
    2 highest-ub blocks ≈ docs 0..255): with < k live partials the probe
    must fall back to θ₀ = 0 and results must still match the reference."""
    built = skewed_index
    dead = set(range(250))
    s = Searcher(
        spark, built.postings, built.dictionary, built.n_docs, built.avgdl,
        deleted_df=spark.createDataFrame(
            [(i,) for i in sorted(dead)], "doc_id long"
        ),
        probe_min_blocks=1,
    )
    plan = s._plan("hot")
    idfs, blocks, meta = plan
    # probe sees ≤ 6 live docs among the two decoded blocks → no valid kth
    assert s._seed_theta0(idfs, meta, blocks, 10) == 0.0
    ref = _top(s.topk_dataframe("hot", 10).collect())
    assert len(ref) == 10 and not {d for d, _ in ref} & dead
    assert _top(s.topk_blockmax("hot", 10).collect()) == ref


def test_multi_term_pruned_equals_reference(spark, skewed_index):
    built = skewed_index
    s = Searcher(spark, built.postings, built.dictionary, built.n_docs, built.avgdl)
    acc = spark.sparkContext.accumulator(0)
    q = "hot pad0 pad29"
    fast = _top(s.topk_blockmax(q, 15, skip_acc=acc).collect())
    ref = _top(s.topk_dataframe(q, 15).collect())
    assert fast == ref
