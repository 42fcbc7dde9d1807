"""Tombstones as a DataFrame: cogrouped range scoring must drop the
tombstoned docs and agree with the DataFrame reference scorer."""

from pyspark.sql import functions as F

from rabbit_index_ingest_spark.datagen import transcripts_df
from rabbit_index_ingest_spark.index.build import build_index
from rabbit_index_ingest_spark.index.query import Searcher


def test_deleted_df_matches_deleted_set(spark):
    t = transcripts_df(spark, n_conv=40)
    built = build_index(spark, t)
    # tombstone every 7th doc
    all_ids = [r["doc_id"] for r in built.doc_stats.select("doc_id").collect()]
    dead = {i for i in all_ids if i % 7 == 0}
    dead_df = spark.createDataFrame([(i,) for i in sorted(dead)], "doc_id long")

    s_df = Searcher(
        spark, built.postings, built.dictionary, built.n_docs, built.avgdl,
        deleted_df=dead_df,
    )
    for q in ("karo", "karo tenro solda", "zephyr quantum lattice"):
        b = [(r["doc_id"], round(r["score"], 6)) for r in s_df.topk_blockmax(q, 20).collect()]
        assert not {x[0] for x in b} & dead
        c = [(r["doc_id"], round(r["score"], 6)) for r in s_df.topk_dataframe(q, 20).collect()]
        assert c == b, q


def _mask_once_searchers(spark):
    """A Searcher over a 40-conversation build with every 5th doc
    tombstoned, its twin without tombstones, the dead ids and the
    doc_stats roster."""
    t = transcripts_df(spark, n_conv=40)
    built = build_index(spark, t)
    roster = built.doc_stats.select("doc_id").localCheckpoint()
    dead = {r["doc_id"] for r in roster.collect() if r["doc_id"] % 5 == 0}
    dead_df = spark.createDataFrame([(i,) for i in sorted(dead)], "doc_id long")

    def searcher(deleted_df):
        return Searcher(
            spark, built.postings, built.dictionary, built.n_docs, built.avgdl,
            deleted_df=deleted_df, doc_stats=roster,
        )

    return searcher(dead_df), searcher(None), dead, built


_MASK_ONCE_QUERIES = {
    "bool": lambda s, **kw: s.bool_query(
        should=[{"match": {"query": "karo"}}, {"match": {"query": "tenro solda"}},
                {"prefix": {"value": "ze"}}],
        must_not=[{"match": {"query": "quantum"}}], **kw,
    ),
    "bool_must_msm": lambda s, **kw: s.bool_query(
        must=[{"match": {"query": "karo tenro", "minimum_should_match": 1}}],
        should=[{"ids": {"values": list(range(0, 400, 3))}}, {"match_all": {}}],
        filter=[{"match": {"query": "solda"}}], **kw,
    ),
    "query_string": lambda s, **kw: s.topk_query_string(
        "karo tenro -quantum ze*", **kw
    ),
    "boosting": lambda s, **kw: s.topk_boosting(
        {"match": {"query": "karo tenro"}}, {"match": {"query": "solda"}}, 0.5, **kw
    ),
}


def test_bool_clauses_mask_tombstones_once(spark):
    """bool_query, topk_query_string and topk_boosting mask the tombstone
    table once, on the combined clause frame: with tombstones, allowed
    and excluded lists each query returns exactly the untombstoned
    query's (doc_id, repr(score)) rows minus the dead, disallowed and
    excluded docs; and a bool query of 3 should + 1 must_not clauses
    plans one anti-join of the tombstone table."""
    s_dead, s_all, dead, built = _mask_once_searchers(spark)
    ids = sorted(r["doc_id"] for r in built.doc_stats.collect())
    allowed_ids = set(ids[: len(ids) * 2 // 3])
    excluded_ids = set(ids[::4])
    allowed = spark.createDataFrame([(i,) for i in sorted(allowed_ids)], "doc_id long")
    excluded = spark.createDataFrame([(i,) for i in sorted(excluded_ids)], "doc_id long")

    def rows(df):
        return [(r["doc_id"], repr(r["score"])) for r in df.collect()]

    k = len(ids)
    for name, q in _MASK_ONCE_QUERIES.items():
        full = rows(q(s_all, k=k))
        assert full, name
        for side in ({}, {"allowed": allowed, "excluded": excluded}):
            keep = set(ids) - dead
            if side:
                keep = (keep & allowed_ids) - excluded_ids
            want = [r for r in full if r[0] in keep]
            assert rows(q(s_dead, k=k, **side)) == want, (name, sorted(side))

    def anti_joins(s):
        plan = _MASK_ONCE_QUERIES["bool"](s, k=10)._jdf.queryExecution().optimizedPlan()
        return plan.toString().count("Join LeftAnti")

    # the one extra anti-join is the tombstone mask; must_not is the other
    assert anti_joins(s_all) == 1
    assert anti_joins(s_dead) == 2
    built.release()
