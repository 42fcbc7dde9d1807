"""Data-driven scorer-stage task sizing (Searcher._scorer_partitions /
_group_by_range): the range-grouped scorer shuffles to a task count
derived from the queried terms' dictionary stats instead of the
session-wide (build-sized) shuffle setting, and the groupBy reuses that
exchange. Results must be partition-assignment-independent.
"""

import pytest
from pyspark.sql import functions as F

from rabbit_index_ingest_spark.datagen import VOCAB, transcripts_df
from rabbit_index_ingest_spark.index import codec
from rabbit_index_ingest_spark.index.build import build_index
from rabbit_index_ingest_spark.index.query import Searcher


@pytest.fixture(scope="module")
def searcher(spark):
    built = build_index(spark, transcripts_df(spark, n_conv=300))
    s = Searcher(
        spark, built.postings, built.dictionary, built.n_docs, built.avgdl
    )
    # every query here is small enough for the driver-side route; these
    # tests size and inspect the distributed scorer stage
    s._local_max_blocks = 0
    return s


def test_sizing_bounds(searcher):
    nparts = int(searcher.spark.conf.get("spark.sql.shuffle.partitions"))
    n_ranges = -(-searcher.n_docs // (1 << searcher.range_bits))
    # tiny df -> one task; absent terms contribute nothing
    assert searcher._scorer_partitions({"x": (1, 1, 1), "y": (0, 0, 0)}) == 1
    # huge df -> capped by session setting AND by the corpus range count
    n = searcher._scorer_partitions({"x": (10**9, 1, 1)})
    assert 1 <= n <= min(nparts, max(1, n_ranges))
    # a task should carry at least ~64 blocks before extra slots are used
    est_blocks = 10 * 64  # df for exactly 640 blocks
    n = searcher._scorer_partitions({"x": (est_blocks * codec.BLOCK_SIZE, 1, 1)})
    assert n <= 10


def test_groupby_reuses_single_exchange(searcher):
    df = searcher.topk_blockmax(VOCAB[0], 10)
    plan = df._jdf.queryExecution().executedPlan().toString()
    # exactly one exchange between the block scan and the scorer: the
    # explicit repartition; groupBy must not add a second one. (The
    # remaining exchanges in the full string belong to the cached build
    # lineage below the InMemoryRelation; with AQE on, its plan string
    # lists them twice, final and initial plan.)
    scorer_part = plan.split("FlatMapGroupsInPandas")[-1]
    assert scorer_part.split("InMemoryRelation")[0].count("Exchange") == 1
    assert "REPARTITION_BY_NUM" in plan


def test_results_identical_across_task_counts(searcher, spark):
    q = f"{VOCAB[0]} {VOCAB[1]}"
    want_top = [
        (r["doc_id"], round(r["score"], 9))
        for r in searcher.topk_blockmax(q, 10).collect()
    ]
    want_phrase = [
        (r["doc_id"], round(r["score"], 9))
        for r in searcher.topk_phrase(q, 10).collect()
    ]
    old = Searcher._scorer_partitions
    try:
        # force the old behavior (session-wide count) and a 1-task run
        for forced in (
            lambda self, meta: int(
                self.spark.conf.get("spark.sql.shuffle.partitions")
            ),
            lambda self, meta: 1,
        ):
            Searcher._scorer_partitions = forced
            got_top = [
                (r["doc_id"], round(r["score"], 9))
                for r in searcher.topk_blockmax(q, 10).collect()
            ]
            got_phrase = [
                (r["doc_id"], round(r["score"], 9))
                for r in searcher.topk_phrase(q, 10).collect()
            ]
            assert got_top == want_top
            assert got_phrase == want_phrase
    finally:
        Searcher._scorer_partitions = old
