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
