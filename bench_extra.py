"""Phase-isolated micro-bench + plan capture for the optimization round.

NOT the graded bench (bench.py is frozen) — this harness exists to apply
guide §1 ("measure first"): it isolates each expensive operator with
explicit materialization boundaries, labels jobs, and captures
``.explain("formatted")`` for every query path into plans/<tag>/.

Usage:
    SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 SPARK_GRAFT_CPUS=32 \
        python bench_extra.py --tag r07/before [--skip-build-detail]

Prints one JSON line with per-phase seconds.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
N_CONV = {"sf0.001": 300, "sf0.01": 3000, "sf0.1": 30000}


def _sf_name() -> str:
    return os.path.basename(SF_DIR.rstrip("/")) or "sf?"


def _explain_str(df) -> str:
    jvm = df.sparkSession._jvm
    return jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def main() -> None:
    tag = "r07/scratch"
    if "--tag" in sys.argv:
        tag = sys.argv[sys.argv.index("--tag") + 1]
    plans_dir = os.path.join(os.path.dirname(os.path.abspath(__file__)), "plans", tag)
    os.makedirs(plans_dir, exist_ok=True)

    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from rabbit_index_ingest_spark.analysis import tokens_expr
    from rabbit_index_ingest_spark.datagen import VOCAB
    from rabbit_index_ingest_spark.index.build import (
        build_index,
        build_index_multifield,
    )
    from rabbit_index_ingest_spark.index.query import Searcher
    from rabbit_index_ingest_spark.index.store import IndexStore
    from rabbit_index_ingest_spark.session import get_spark

    n_conv = N_CONV.get(_sf_name(), 3000)
    est_occ = n_conv * 7 * 30
    shuffle_parts = max(64, min(1024, 1 << (est_occ // 1_000_000).bit_length()))
    spark = get_spark(app_name="bench-extra", cores=CPUS, shuffle_partitions=shuffle_parts)
    spark.sparkContext.setLogLevel("ERROR")
    sc = spark.sparkContext

    corpus = f"/tmp/bench_transcripts_{n_conv}"
    if not os.path.exists(corpus + "/_SUCCESS"):
        from rabbit_index_ingest_spark.datagen import transcripts_df

        transcripts_df(spark, n_conv=n_conv, partitions=max(CPUS, 8)).write.mode(
            "overwrite"
        ).parquet(corpus)
    transcripts = spark.read.parquet(corpus)
    transcripts.count()
    transcripts.select(F.max(F.length("text"))).collect()  # warm page cache

    t: dict[str, float] = {}

    def timed(name: str, fn):
        sc.setJobDescription(name)
        t0 = time.time()
        out = fn()
        t[name] = round(time.time() - t0, 3)
        sc.setJobDescription(None)
        print(f"[extra] {name}: {t[name]:.2f}s", file=sys.stderr, flush=True)
        return out

    # ---------- build, phase by phase ----------
    from rabbit_index_ingest_spark.index.build import (
        assign_doc_ids_with_count,
        pack_postings,
        tokenized,
    )

    if "--skip-build-detail" not in sys.argv:
        # phase 1: doc-id assignment (range shuffle + count job)
        assigned, n_docs, ranged_cache = timed(
            "bd_assign_ids",
            lambda: assign_doc_ids_with_count(
                transcripts.select("conv_id", "turn_idx", "text"),
                key_cols=("conv_id", "turn_idx"),
            ),
        )
        numbered = assigned.select(
            "doc_id", "conv_id", "turn_idx", "text"
        )
        # phase 2: tokenize + persist (materialized via a cheap count)
        toks = tokenized(numbered, ["text"]).persist()
        timed("bd_tokenize_cache", lambda: toks.count())
        # phase 3: the pack shuffle alone (noop sink over postings) — the
        # build core's own occurrence/pack plan
        postings_plan = pack_postings(toks, ["text"])
        with open(os.path.join(plans_dir, "build_pack.txt"), "w") as f:
            f.write(_explain_str(postings_plan))
        timed(
            "bd_pack_noop",
            lambda: postings_plan.write.format("noop").mode("overwrite").save(),
        )
        toks.unpersist()
        if ranged_cache is not None:
            ranged_cache.unpersist()

    # ---------- the real build + save (store phases) ----------
    idx_root = tempfile.mkdtemp(prefix="bx_idx_", dir="/tmp")
    built = timed("build_core", lambda: build_index(spark, transcripts))
    store = IndexStore(spark, idx_root)
    timed("save", lambda: store.save(built, segment=0))
    loaded = store.load()
    n_blocks = loaded.postings.count()
    print(f"[extra] {n_blocks} blocks", file=sys.stderr)

    searcher = Searcher(
        spark, loaded.postings, loaded.dictionary, loaded.n_docs, loaded.avgdl
    )
    searcher.topk_blockmax(VOCAB[0], 10).collect()  # warm

    qdefs = {
        "q_bmw_hot": lambda: searcher.topk_blockmax(VOCAB[0], 10),
        "q_bmw_mix": lambda: searcher.topk_blockmax(
            f"{VOCAB[0]} {VOCAB[120]} {VOCAB[3500]}", 10
        ),
        "q_dataframe": lambda: searcher.topk_dataframe("karo tenro solda", 10),
        "q_phrase_hot": lambda: searcher.topk_phrase(f"{VOCAB[0]} {VOCAB[1]}", 10),
        "q_phrase_hot_df": lambda: searcher.topk_phrase_dataframe(
            f"{VOCAB[0]} {VOCAB[1]}", 10
        ),
        "q_and_mix_df": lambda: searcher.topk_and(
            f"{VOCAB[0]} {VOCAB[120]} {VOCAB[3500]}", 10
        ),
        "q_near_hot": lambda: searcher.topk_near(f"{VOCAB[0]} {VOCAB[1]}", 10, gap=4),
        "q_near_hot_df": lambda: searcher.topk_near_dataframe(
            f"{VOCAB[0]} {VOCAB[1]}", 10, gap=4
        ),
        "q_slop_hot": lambda: searcher.topk_phrase(
            f"{VOCAB[0]} {VOCAB[1]}", 10, slop=2
        ),
        "q_unordered_hot": lambda: searcher.topk_near_unordered(
            f"{VOCAB[0]} {VOCAB[1]}", 10, slop=2
        ),
        "q_bool_mix": lambda: searcher.bool_query(
            must=[{"match": {"query": VOCAB[0]}}],
            should=[
                {"match_phrase": {"query": f"{VOCAB[0]} {VOCAB[1]}"}},
                {"match": {"query": VOCAB[120], "boost": 2.0}},
            ],
            must_not=[{"match": {"query": VOCAB[3500]}}],
            k=10,
        ),
        "q_query_string": lambda: searcher.topk_query_string(
            f'+{VOCAB[0]} "{VOCAB[0]} {VOCAB[1]}" {VOCAB[120]} -{VOCAB[3500]}',
            10,
        ),
        "q_page_deep": lambda: searcher.page(
            f"{VOCAB[0]} {VOCAB[120]} {VOCAB[3500]}", from_=60, size=10
        ),
    }
    full_top = searcher.topk_blockmax(
        f"{VOCAB[0]} {VOCAB[120]} {VOCAB[3500]}", 70
    ).collect()
    if len(full_top) > 60:
        cur = (full_top[59]["score"], full_top[59]["doc_id"])
        qdefs["q_search_after_deep"] = lambda: searcher.search_after(
            f"{VOCAB[0]} {VOCAB[120]} {VOCAB[3500]}", 10, after=cur
        )
    for name, fn in qdefs.items():
        df = fn()
        with open(os.path.join(plans_dir, f"{name}.txt"), "w") as f:
            f.write(_explain_str(df))
        timed(name, lambda df=df: df.collect())
        # second rep: warm
        df2 = fn()
        sc.setJobDescription(name + "_rep2")
        t0 = time.time()
        df2.collect()
        t[name + "_rep2"] = round(time.time() - t0, 3)
        sc.setJobDescription(None)

    # ---------- block scan of the hot pair, through each term source ----
    # (the local scorer route's read: the loaded store's files with
    # pyarrow vs the DataFrame source's Arrow collect of the same rows)
    from rabbit_index_ingest_spark.index.query import (
        _SCORE_COLS,
        _FrameSource,
        flat_postings,
        flat_postings_positional,
    )

    hot = [VOCAB[0], VOCAB[1]]
    frame_source = _FrameSource(loaded.postings, loaded.dictionary, loaded.deleted_df)
    for name, source in (("scan_hot_files", searcher._source), ("scan_hot_frames", frame_source)):
        source.blocks(hot, _SCORE_COLS)  # warm
        timed(name, lambda source=source: source.blocks(hot, _SCORE_COLS))

    # ---------- decode isolation (df-twin cost attribution) ----------
    blocks_hot = searcher._term_blocks(hot)
    fp = flat_postings(blocks_hot)
    with open(os.path.join(plans_dir, "decode_flat.txt"), "w") as f:
        f.write(_explain_str(fp))
    timed(
        "decode_flat_noop",
        lambda: fp.write.format("noop").mode("overwrite").save(),
    )
    fpp = flat_postings_positional(blocks_hot)
    with open(os.path.join(plans_dir, "decode_flat_pos.txt"), "w") as f:
        f.write(_explain_str(fpp))
    timed(
        "decode_flat_pos_noop",
        lambda: fpp.write.format("noop").mode("overwrite").save(),
    )

    # ---------- multifield build + multimatch ----------
    two_field = transcripts.select(
        "conv_id", "turn_idx", "text",
        F.array_join(F.slice(tokens_expr("text"), 1, 4), " ").alias("title"),
    )
    built_mf = timed(
        "build_multifield",
        lambda: build_index_multifield(
            spark, two_field, fields={"text": "text", "title": "title"}
        ),
    )
    s_mf = Searcher(
        spark, built_mf.postings, built_mf.dictionary, built_mf.n_docs,
        built_mf.avgdl, field_stats=built_mf.field_stats,
    )
    mm_fields = {"text": 1.0, "title": 2.0}
    s_mf.topk_multimatch(VOCAB[0], mm_fields, 10).collect()
    for name, mode in (
        ("q_multimatch_best", "best_fields"),
        ("q_multimatch_most", "most_fields"),
    ):
        df = s_mf.topk_multimatch(
            f"{VOCAB[0]} {VOCAB[120]} {VOCAB[3500]}", mm_fields, 10,
            mode=mode, tie_breaker=0.3,
        )
        with open(os.path.join(plans_dir, f"{name}.txt"), "w") as f:
            f.write(_explain_str(df))
        timed(name, lambda df=df: df.collect())
    built_mf.release()

    # ---------- dedup ----------
    from rabbit_index_ingest_spark.operators.dedup import (
        lsh_candidate_pairs,
        minhash_signatures,
    )

    docs = transcripts.select(
        F.monotonically_increasing_id().alias("doc_id"), F.col("text")
    )
    sigs = minhash_signatures(docs, n_hashes=16)
    with open(os.path.join(plans_dir, "dedup_minhash.txt"), "w") as f:
        f.write(_explain_str(sigs))
    timed(
        "dedup_minhash_noop",
        lambda: sigs.write.format("noop").mode("overwrite").save(),
    )
    pairs = lsh_candidate_pairs(minhash_signatures(docs, n_hashes=16))
    with open(os.path.join(plans_dir, "dedup_lsh.txt"), "w") as f:
        f.write(_explain_str(pairs))
    timed("dedup_lsh", lambda: pairs.count())

    # ---------- ann ----------
    from rabbit_index_ingest_spark.operators.similarity import cosine_topk

    emb = spark.read.parquet(os.path.join(SF_DIR, "embeddings.parquet"))
    qvec = [float(x) for x in emb.limit(1).collect()[0]["embedding"]]
    df = cosine_topk(emb, qvec, 10)
    with open(os.path.join(plans_dir, "ann_cosine.txt"), "w") as f:
        f.write(_explain_str(df))
    timed("ann_cosine", lambda: df.collect())

    shutil.rmtree(idx_root, ignore_errors=True)
    print(json.dumps({"tag": tag, "sf": _sf_name(), "timings": t}))
    spark.stop()


if __name__ == "__main__":
    main()
