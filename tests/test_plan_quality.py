"""Physical-plan assertions (SURVEY.md §4): the optimizations we claim must
be visible in `.explain` — partition pruning on the term bucket, column
pruning on the dictionary rollup, broadcast dimension joins, and a
single-shuffle postings build."""

import pytest
from pyspark.sql import functions as F

from rabbit_index_ingest_spark.datagen import transcripts_df
from rabbit_index_ingest_spark.index.build import build_index, dictionary_from_blocks
from rabbit_index_ingest_spark.index.query import Searcher
from rabbit_index_ingest_spark.index.store import IndexStore


@pytest.fixture(scope="module")
def stored(spark, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("idx") / "store")
    t = transcripts_df(spark, n_conv=30)
    IndexStore(spark, root).save(build_index(spark, t), segment=0)
    return IndexStore(spark, root).load()


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _optimized(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_query_scan_is_bucket_partition_pruned(spark, stored):
    """The block-max query must only scan the storage partitions
    (bucket=NN) of the query terms — at 100 TB this is the difference
    between touching 1/64th of the postings and all of them."""
    s = Searcher(spark, stored.postings, stored.dictionary, stored.n_docs, stored.avgdl)
    s._local_max_blocks = 0  # the distributed route (small queries run locally)
    plan = _plan(s.topk_blockmax("karo", 10))
    # partition filter on the parquet scan, not a post-scan filter
    assert "PartitionFilters" in plan
    seg = plan[plan.index("PartitionFilters") :][:500]
    assert "bucket" in seg, seg


def test_dictionary_rollup_prunes_byte_columns(spark, stored):
    """dictionary_from_blocks must read ONLY metadata columns — the
    compressed doc/tf/dl byte columns (the bulk of the index) must not
    appear in the scan's ReadSchema."""
    plan = _plan(dictionary_from_blocks(stored.postings))
    read_schema = plan[plan.index("ReadSchema") :][:400]
    assert "doc_bytes" not in read_schema, read_schema
    assert "tf_bytes" not in read_schema, read_schema
    assert "dl_bytes" not in read_schema, read_schema
    assert "tf_sum" in read_schema


def test_idf_join_is_broadcast(spark, stored):
    """The DataFrame scorer joins postings to the (tiny) per-term idf
    table — must be a broadcast hash join, never a shuffle of postings."""
    s = Searcher(spark, stored.postings, stored.dictionary, stored.n_docs, stored.avgdl)
    plan = _plan(s.topk_dataframe("karo tenro", 10))
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan


def test_build_has_single_wide_shuffle(spark):
    """The postings pipeline contains exactly ONE data-bearing exchange
    (the term/range repartition) besides the doc-id range partitioning —
    the tf groupBy stage was folded into the pack (run-length)."""
    t = transcripts_df(spark, n_conv=10)
    built = build_index(spark, t, persist_postings=False)
    plan = _plan(built.postings)
    # exactly one hash exchange (term/range repartition) and one range
    # exchange (doc-id assignment; its text appears twice because the
    # cached InMemoryRelation embeds its own build plan in the dump)
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "hashpartitioning(term" in plan
    # and no aggregate operator in the postings path at all — tf counting
    # happens inside the pack stage (run-length), not a groupBy
    assert "HashAggregate" not in plan


def test_topk_is_take_ordered(spark, stored):
    """Global top-k must compile to TakeOrderedAndProject — a k-row merge,
    not a full sort."""
    s = Searcher(spark, stored.postings, stored.dictionary, stored.n_docs, stored.avgdl)
    s._local_max_blocks = 0  # the distributed route (small queries run locally)
    plan = _plan(s.topk_blockmax("karo", 10))
    assert "TakeOrderedAndProject" in plan


def test_prefix_filter_pushed_to_scan(spark, tmp_path):
    """A5 prefix filter must reach the parquet scan as a pushed filter."""
    from rabbit_index_ingest_spark.operators.filters import (
        DENY_ALL_ALLOW_LISTED,
        apply_path_filter,
    )

    p = str(tmp_path / "paths")
    spark.createDataFrame(
        [("/a/b/c",), ("/x/y",)], "path string"
    ).write.parquet(p)
    df = apply_path_filter(spark.read.parquet(p), "path", ["/a/b"], DENY_ALL_ALLOW_LISTED)
    plan = _plan(df)
    pushed = plan[plan.index("PushedFilters") :][:300]
    assert "StringStartsWith" in pushed or "EqualTo" in pushed, pushed


def test_upsert_superseded_join_not_forced_broadcast(spark):
    """B7 at scale: the superseded-keys semi-join must NOT force-broadcast
    the new batch's keys — a bulk re-ingestion carries 10^8+ keys and a
    forced broadcast is a driver OOM. Small batches still broadcast via
    AQE; a large batch must degrade to a shuffled join (round-2 verdict
    item 2)."""
    from rabbit_index_ingest_spark.index.store import superseded_doc_ids

    doc_stats = spark.range(0, 3_000_000).select(
        F.concat(F.lit("c"), F.col("id")).alias("conv_id"),
        (F.col("id") % 5).cast("int").alias("turn_idx"),
        F.col("id").alias("doc_id"),
    )
    big_keys = spark.range(0, 3_000_000).select(
        F.concat(F.lit("c"), F.col("id")).alias("k1"),
        (F.col("id") % 5).cast("int").alias("k2"),
    )
    joined = superseded_doc_ids(doc_stats, big_keys)
    joined.count()  # materialize so AQE finalizes the plan
    plan = _plan(joined)
    assert "BroadcastHashJoin" not in plan, plan

    # and a tiny batch still broadcasts (AQE runtime decision, no hint)
    small_keys = spark.range(0, 100).select(
        F.concat(F.lit("c"), F.col("id")).alias("k1"),
        (F.col("id") % 5).cast("int").alias("k2"),
    )
    small = superseded_doc_ids(doc_stats, small_keys)
    small.count()
    assert "BroadcastHashJoin" in _plan(small)


def _term_scan_modes():
    """Every query mode that scans postings by term, as
    ``(searcher, bigram, attrs) -> DataFrame``; ``conjunctive`` modes also
    scan the rarest term's ranges in a semi-join subquery."""
    from rabbit_index_ingest_spark.datagen import VOCAB

    q2 = f"{VOCAB[0]} {VOCAB[3]}"
    q4 = f"{VOCAB[0]} {VOCAB[1]} {VOCAB[5]} {VOCAB[9]}"
    return {
        "blockmax": (lambda s, b, a: s.topk_blockmax(q4, 10), False),
        "and": (lambda s, b, a: s.topk_blockmax_and(q2, 10), True),
        "msm": (lambda s, b, a: s.topk_msm(q4, 10, msm=2), False),
        "phrase": (lambda s, b, a: s.topk_phrase(b, 10), True),
        "sloppy_phrase": (lambda s, b, a: s.topk_phrase(b, 10, slop=1), True),
        "phrase_prefix": (
            lambda s, b, a: s.topk_phrase_prefix(
                f"{b.split()[0]} {VOCAB[0][:2]}", 10
            ),
            True,
        ),
        "near": (lambda s, b, a: s.topk_near(q2, 10, gap=3), True),
        "near_unordered": (
            lambda s, b, a: s.topk_near_unordered(q2, 10, slop=2), True
        ),
        "prefix_constant_score": (
            lambda s, b, a: s.topk_prefix(VOCAB[0][:2], 10), False
        ),
        "span_first": (lambda s, b, a: s.topk_span_first(VOCAB[0], 5, 10), False),
        "terms_set": (
            lambda s, b, a: s.topk_terms_set([VOCAB[0], VOCAB[3]], a, "req", 10),
            False,
        ),
        "dataframe": (lambda s, b, a: s.topk_dataframe(q4, 10), False),
        "phrase_dataframe": (lambda s, b, a: s.topk_phrase_dataframe(b, 10), False),
        "near_dataframe": (
            lambda s, b, a: s.topk_near_dataframe(q2, 10, gap=3), False
        ),
    }


@pytest.mark.parametrize("mode", sorted(_term_scan_modes()))
def test_every_postings_scan_is_bucket_pruned(spark, stored, mode):
    """Every postings scan a query plans — the rare-range semi-join
    subquery of the conjunctive modes included — reads only the query
    terms' storage partitions: its FileScan carries a ``bucket``
    PartitionFilter. Checked on the distributed route, where the whole
    scan sits in the query's own plan."""
    import re

    from rabbit_index_ingest_spark.analysis import py_tokenize
    from rabbit_index_ingest_spark.datagen import transcripts_pandas

    s = Searcher(spark, stored.postings, stored.dictionary, stored.n_docs, stored.avgdl)
    s._local_max_blocks = 0  # the distributed route (small queries run locally)
    bigram = " ".join(py_tokenize(transcripts_pandas(30)["text"].iloc[3])[:2])
    attrs = stored.doc_stats.select("doc_id", F.lit(1).alias("req"))
    fn, conjunctive = _term_scan_modes()[mode]
    plan = _plan(fn(s, bigram, attrs))
    scans = [
        ln for ln in plan.splitlines()
        if "FileScan" in ln and re.search(r"Location: [^,]*/postings", ln)
    ]
    assert len(scans) >= (2 if conjunctive else 1), plan
    for ln in scans:
        # a long filter list is cut short ("...") before its "]"
        pf = re.search(r"PartitionFilters: \[([^\]]*)", ln)
        assert pf and "bucket" in pf.group(1), ln
