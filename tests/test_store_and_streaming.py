"""Persistence, upsert (doc_as_upsert), resume-after-kill, compaction,
streaming ingest — reference A14/A15/A16/B7 semantics (SURVEY.md §5.2)."""

import os
import shutil

import pytest
from pyspark.sql import functions as F

from rabbit_index_ingest_spark.datagen import transcripts_df, transcripts_pandas
from rabbit_index_ingest_spark.index.build import build_index
from rabbit_index_ingest_spark.index.query import Searcher
from rabbit_index_ingest_spark.index.store import IndexStore
from rabbit_index_ingest_spark.oracle import OracleIndex


@pytest.fixture()
def root(tmp_path):
    return str(tmp_path / "idx")


def _searcher(spark, store):
    L = store.load()
    return L, Searcher(
        spark, L.postings, L.dictionary, L.n_docs, L.avgdl,
        deleted_df=L.deleted_df,
    )


def test_save_load_roundtrip(spark, root):
    t = transcripts_df(spark, n_conv=40)
    built = build_index(spark, t)
    store = IndexStore(spark, root)
    store.save(built, segment=0)
    L, s = _searcher(spark, store)
    assert L.n_docs == built.n_docs
    assert abs(L.avgdl - built.avgdl) < 1e-12
    assert s.topk_blockmax("karo", 5).count() == 5
    # manifest has a done row per table stage
    m = store.manifest()
    for tbl in ("docs", "corpus_stats", "dictionary", "postings"):
        assert m[f"seg0/{tbl}"]["status"] == "done"


def test_save_keeps_aqe_default_on(spark, root):
    """A save never changes the session's AQE setting: with the key unset
    (Spark's default, on) it still reads ``true`` afterwards."""
    key = "spark.sql.adaptive.enabled"
    prev = spark.conf.get(key)
    spark.conf.unset(key)
    try:
        built = build_index(spark, transcripts_df(spark, n_conv=10))
        IndexStore(spark, root).save(built, segment=0)
        assert spark.conf.get(key) == "true"
    finally:
        spark.conf.set(key, prev)


def test_resume_skips_done_stages(spark, root):
    t = transcripts_df(spark, n_conv=20)
    built = build_index(spark, t)
    store = IndexStore(spark, root)
    store.save(built, segment=0)
    done_ts = {k: v["ts"] for k, v in store.manifest().items()}
    # simulate a crash after partial completion: postings stage lost
    shutil.rmtree(os.path.join(root, "postings", "seg=00000"))
    os.remove(os.path.join(root, "_manifest", "seg0_postings.parquet"))
    store.save(built, segment=0, resume=True)
    m = store.manifest()
    # unfinished stage re-ran; finished stages were not touched
    assert m["seg0/postings"]["status"] == "done"
    for k, ts in done_ts.items():
        if k != "seg0/postings":
            assert m[k]["ts"] == ts, f"{k} was re-run on resume"
    _, s = _searcher(spark, store)
    assert s.topk_blockmax("karo", 3).count() == 3


def test_manifest_is_a_table_at_1e3_stages(spark, tmp_path):
    """The manifest must behave as a TABLE: 10^3 logged stages read back
    as one DataFrame scan (manifest_df) with uniform schema, per-stage
    done-checks stay O(1) file reads, and re-logging a stage atomically
    replaces its row (no partial-file reads for concurrent savers)."""
    store = IndexStore(spark, str(tmp_path / "m"))
    for i in range(1000):
        store.log_manifest(f"seg{i}/postings", "done", segment=i, n=i * 2)
    df = store.manifest_df()
    assert df.count() == 1000
    assert set(df.columns) == {"stage", "status", "ts", "metrics"}
    assert df.where(F.col("status") == "done").count() == 1000
    # O(1) per-stage check reads only its own file
    assert store.stage_done("seg123/postings")
    assert not store.stage_done("seg123/nope")
    # re-log overwrites that stage's row only
    store.log_manifest("seg123/postings", "started")
    assert not store.stage_done("seg123/postings")
    assert store.manifest_df().count() == 1000
    m = store.manifest()
    assert m["seg7/postings"]["n"] == 14
    assert m["seg123/postings"]["status"] == "started"


def test_upsert_doc_as_upsert_semantics(spark, root):
    """Re-ingesting an existing (conv_id, turn_idx) replaces the doc —
    the reference's doc_as_upsert golden contract
    (tests/test_directory_updates.py:73-75)."""
    t = transcripts_df(spark, n_conv=30)
    store = IndexStore(spark, root)
    store.save(build_index(spark, t), segment=0)

    # replace one existing turn's text with a unique sentinel + add new conv
    new_rows = spark.createDataFrame(
        [
            ("conv-00000003", 0, "xenolith gryphon palimpsest"),
            ("conv-99999999", 0, "xenolith gryphon palimpsest twice"),
        ],
        "conv_id string, turn_idx int, text string",
    )
    store.upsert(new_rows)

    L, s = _searcher(spark, store)
    hits = s.fetch_topk("xenolith gryphon palimpsest", 10, L.docs).collect()
    keys = {(r["conv_id"], r["turn_idx"]) for r in hits}
    assert ("conv-00000003", 0) in keys
    assert ("conv-99999999", 0) in keys
    # the old version of (conv-00000003, 0) must be masked: querying a term
    # from its ORIGINAL text must not return doc of that key twice nor the
    # superseded doc_id
    assert len(L.deleted) == 1
    old_hits = s.topk_blockmax("karo", 1000).collect()
    assert not set(r["doc_id"] for r in old_hits) & L.deleted


def test_compaction_restores_single_segment(spark, root):
    t = transcripts_df(spark, n_conv=25)
    store = IndexStore(spark, root)
    store.save(build_index(spark, t), segment=0)
    store.upsert(
        spark.createDataFrame(
            [("conv-00000001", 1, "xenolith gryphon compacted")],
            "conv_id string, turn_idx int, text string",
        )
    )
    assert len(store.segments()) == 2
    store.compact()
    assert store.segments() == [0]
    L, s = _searcher(spark, store)
    assert not L.deleted
    hits = s.fetch_topk("xenolith gryphon compacted", 5, L.docs).collect()
    assert ("conv-00000001", 1) in {(r["conv_id"], r["turn_idx"]) for r in hits}
    # post-compaction scores match a fresh oracle over the merged corpus
    pdf = transcripts_pandas(25)
    docs = {
        (r.conv_id, r.turn_idx): r.text for r in pdf.itertuples(index=False)
    }
    docs[("conv-00000001", 1)] = "xenolith gryphon compacted"
    oracle = OracleIndex.build(list(docs.items()))
    idmap = {
        r["doc_id"]: (r["conv_id"], r["turn_idx"]) for r in L.doc_stats.collect()
    }
    got = [
        (idmap[r["doc_id"]], round(r["score"], 6))
        for r in s.topk_blockmax("karo tenro", 10).collect()
    ]
    exp = [(k, round(v, 6)) for k, v in oracle.topk("karo tenro", 10)]
    assert got == exp


def _seg_stats(root, seg):
    import pyarrow.parquet as pq

    return pq.read_table(
        os.path.join(root, "corpus_stats", f"seg={seg:05d}")
    ).to_pylist()[0]


def test_legacy_corpus_stats_layout_defaults(spark, root):
    """A store written before the positions/analyzer stats columns existed
    reads as positions=True, analyzer="simple" — in load(), stats(),
    upsert (which writes its new segment that way) and merge_segments.
    The store is built positionless with the standard analyzer, so only
    the legacy rules can produce those values."""
    import pyarrow.parquet as pq

    t = transcripts_df(spark, n_conv=10)
    store = IndexStore(spark, root)
    store.save(build_index(spark, t, positions=False, analyzer="standard"))
    part = os.path.join(root, "corpus_stats", "seg=00000", "part-00000.parquet")
    pq.write_table(
        pq.read_table(part).drop_columns(["positions", "analyzer"]), part
    )

    L = store.load()
    assert (L.positions, L.analyzer) == (True, "simple")
    assert store.stats()["analyzer"] == "simple"

    seg = store.upsert(
        spark.createDataFrame(
            [("conv-00000001", 0, "xenolith gryphon")],
            "conv_id string, turn_idx int, text string",
        )
    )
    row = _seg_stats(root, seg)
    assert (row["positions"], row["analyzer"]) == (True, "simple")
    new_postings = spark.read.parquet(store._path("postings", seg))
    assert new_postings.where(F.length("pos_bytes") > 0).count() > 0

    merged = store.merge_segments([0, seg])
    row = _seg_stats(root, merged)
    assert (row["positions"], row["analyzer"]) == (True, "simple")


def test_single_field_store_has_no_field_stats(spark, root):
    """A single-field index is the one-field case of the multi-field
    build: no field_stats table after save, upsert, merge or compact, and
    stats() names the one "text" field."""
    store = IndexStore(spark, root)

    def check():
        assert not os.path.exists(os.path.join(root, "field_stats"))
        assert store.stats()["fields"] == ["text"]

    store.save(build_index(spark, transcripts_df(spark, n_conv=10)))
    check()
    seg = store.upsert(
        spark.createDataFrame(
            [("conv-00000002", 1, "xenolith gryphon")],
            "conv_id string, turn_idx int, text string",
        )
    )
    check()
    store.merge_segments([0, seg])
    check()
    store.compact()
    check()


def _bucket_files(root):
    """{(table, seg dir, bucket dir): [parquet file names]} for the two
    bucketed tables."""
    out = {}
    for table in ("postings", "dictionary"):
        tdir = os.path.join(root, table)
        for seg in os.listdir(tdir):
            for b in os.listdir(os.path.join(tdir, seg)):
                if b.startswith("bucket="):
                    out[(table, seg, b)] = [
                        f for f in os.listdir(os.path.join(tdir, seg, b))
                        if f.endswith(".parquet")
                    ]
    return out


def test_bucketed_writes_place_whole_buckets_per_task(spark, root):
    """On the Spark write route, postings and dictionary writes place
    rows by bucket id: bucket b is written by task b mod n, n =
    min(N_TERM_BUCKETS, shuffle partitions, cores), so every
    seg=N/bucket=NN directory holds exactly one part file, and a small
    segment is still written by n tasks — after save, upsert and merge
    alike."""
    from rabbit_index_ingest_spark.index.build import N_TERM_BUCKETS

    n = min(
        N_TERM_BUCKETS,
        int(spark.conf.get("spark.sql.shuffle.partitions")),
        spark.sparkContext.defaultParallelism,
    )
    assert n > 1
    store = IndexStore(spark, root)
    store._local_max_docs = 0  # the Spark write route

    def check():
        files = _bucket_files(root)
        assert files
        for (table, seg, b), names in files.items():
            assert len(names) == 1, (table, seg, b, names)
            task = int(b.split("=")[1]) % n
            assert names[0].startswith(f"part-{task:05d}-"), (table, seg, b, names)

    store.save(build_index(spark, transcripts_df(spark, n_conv=20)))
    check()
    seg = store.upsert(
        spark.createDataFrame(
            [("conv-00000002", 1, "xenolith gryphon palimpsest"),
             ("conv-99999999", 0, "karo tenro xenolith")],
            "conv_id string, turn_idx int, text string",
        )
    )
    check()
    store.merge_segments([0, seg])
    check()


# ---- write routes: driver (pyarrow) vs Spark, one layout ----------------

_FORCE = {"spark": 0, "local": 10**12}


def _table_bytes(root):
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(root)
        if "_manifest" not in d
        for f in files
        if f.endswith(".parquet")
    )


def _routed_store(spark, root, multi, local_max):
    """save, an upsert of re-ingested keys plus one new key, a second
    upsert and a merge of the first two segments, with the store's write
    threshold set to ``local_max``; returns the store."""
    from rabbit_index_ingest_spark.index.build import build_index_multifield

    t = transcripts_df(spark, n_conv=24)
    if multi:
        t = t.withColumn("title", F.substring_index("text", " ", 2))
    fields = {"text": "text", "title": "title"} if multi else {"text": "text"}
    cols = ["conv_id", "turn_idx", *fields]
    store = IndexStore(spark, root)
    store._local_max_docs = local_max
    store.save(build_index_multifield(spark, t, fields))
    upd = t.where(F.col("conv_id") < "conv-00000006").withColumn(
        "text", F.concat(F.col("text"), F.lit(" karo karo xenolith"))
    )
    extra = spark.createDataFrame(
        [("conv-99999999", 0, "xenolith gryphon karo", "gryphon karo")],
        "conv_id string, turn_idx int, text string, title string",
    )
    s1 = store.upsert(upd.select(*cols).unionByName(extra.select(*cols)))
    s2 = store.upsert(
        t.where(F.col("conv_id") == "conv-00000002")
        .withColumn("text", F.lit("tenro karo gryphon palimpsest"))
        .select(*cols)
    )
    store.merge_segments([0, s1])
    assert store.segments() == [s2, s2 + 1]
    return store


def _route_results(spark, store):
    from rabbit_index_ingest_spark.analysis import py_tokenize

    L, s = _searcher(spark, store)
    assert L.deleted_df is not None
    toks = py_tokenize(L.docs.orderBy("doc_id").first()["text"])
    phrase = " ".join(toks[:2])

    def rows(df):
        return sorted((r["doc_id"], repr(r["score"])) for r in df.collect())

    return {
        "or": rows(s.topk_blockmax("karo tenro xenolith", 40)),
        "and": rows(s.topk_blockmax_and("karo xenolith", 40)),
        "phrase": rows(s.topk_phrase(phrase, 40)),
        "phrase_prefix": rows(s.topk_phrase_prefix(f"{toks[0]} {toks[1][:2]}", 40)),
        "prefix": rows(s.topk_prefix("ka", 40)),
        "bool": rows(
            s.bool_query(
                must=[{"match": {"query": "karo"}}],
                should=[{"match_phrase": {"query": phrase}}],
                must_not=[{"match": {"query": "gryphon"}}],
                k=40,
            )
        ),
    }


@pytest.mark.parametrize("multi", [False, True], ids=["text", "text+title"])
def test_driver_and_spark_write_routes_store_the_same_index(spark, tmp_path, multi):
    """Every table of a store written on the driver route (pyarrow), on
    the Spark route, and on both (base and merged segments by Spark,
    upsert segments by the driver) is the same rows; all three answer
    every query mode with identical (doc_id, repr(score)); every
    seg=N/bucket=B directory holds one parquet file; and the driver
    route stores no more bytes than Spark's."""
    stores = {
        route: _routed_store(spark, str(tmp_path / route), multi, lim)
        for route, lim in (*_FORCE.items(), ("mixed", 60))
    }
    upserted, merged = stores["mixed"].segments()
    docs_dir = os.path.join(stores["mixed"].root, "docs")
    # mixed: the merged segment (> 60 docs) is Spark's, the upsert is not
    assert os.path.exists(os.path.join(docs_dir, f"seg={merged:05d}", "_SUCCESS"))
    assert not os.path.exists(os.path.join(docs_dir, f"seg={upserted:05d}", "_SUCCESS"))

    ref = stores["spark"]
    tables = ["docs", "postings", "dictionary", "metrics", "corpus_stats"]
    if multi:
        tables.append("field_stats")
    want = _route_results(spark, ref)
    assert all(want.values()), want
    for route, store in stores.items():
        for table in tables:
            a, b = ref._read_all(table), store._read_all(table)
            assert a.schema == b.schema, (route, table)
            assert a.exceptAll(b).count() == 0 == b.exceptAll(a).count(), (route, table)
        ta, tb = ref.tombstones_df(), store.tombstones_df()
        assert ta.exceptAll(tb).count() == 0 == tb.exceptAll(ta).count(), route
        assert store._field_info() == ref._field_info(), route
        assert store._layout() == ref._layout(), route
        for key, names in _bucket_files(store.root).items():
            assert len(names) == 1, (route, key, names)
        assert _route_results(spark, store) == want, route
    assert _table_bytes(stores["local"].root) <= _table_bytes(ref.root)


def test_segment_above_threshold_is_written_by_spark(spark, root):
    """A segment of ``_local_max_docs`` docs is written by the driver (one
    ``part-00000.parquet`` per directory, no ``_SUCCESS`` marker); one
    doc more and Spark writes it."""
    t = transcripts_df(spark, n_conv=5)
    for extra, spark_route in ((0, False), (-1, True)):
        built = build_index(spark, t)
        store = IndexStore(spark, root)
        store._local_max_docs = built.n_docs + extra
        store.save(built)
        seg_dir = os.path.join(root, "docs", "seg=00000")
        assert os.path.exists(os.path.join(seg_dir, "_SUCCESS")) == spark_route
        names = [f for f in os.listdir(seg_dir) if f.endswith(".parquet")]
        assert (names == ["part-00000.parquet"]) != spark_route, names
        shutil.rmtree(root)


# ---- build routes: in-process (driver) vs Spark ---------------------------

_SPECIAL_TEXTS = [
    "ΟΔΟΣ οδός ΣΟΦΟΣ straße STRASSE ẞ karo",
    "İstanbul ISTANBUL ıi karo tenro",
    "漢字テスト かな 한국어 karo 0123 4.5 can't",
]


def _build_route_store(spark, root, local_max, multi, positions, analyzer):
    """save a 12-conversation base, upsert a batch holding re-ingested
    keys, a duplicated key, an empty text, a null text and non-ASCII
    texts, upsert a second batch re-ingesting keys of both, then merge
    the first two segments (the second batch's tombstones stay) — every
    build and write with the store's driver threshold at ``local_max``.
    Returns the store and the build route each step took."""
    from rabbit_index_ingest_spark.index import store as store_mod
    from rabbit_index_ingest_spark.index.build import build_index_multifield

    t = transcripts_df(spark, n_conv=12).withColumn(
        "title", F.substring_index("text", " ", 2)
    )
    fields = {"text": "text", "title": "title"} if multi else {"text": "text"}
    cols = ["conv_id", "turn_idx", *fields]
    store = IndexStore(spark, root)
    store._local_max_docs = local_max
    store.save(build_index_multifield(
        spark, t.select(*cols), fields, positions=positions, analyzer=analyzer
    ))
    rows = [("conv-00000001", 0, "karo karo reingested first", "re one")]
    rows += [("conv-00000001", 0, "karo karo reingested second", "re two")]
    rows += [("conv-00000003", 1, "", "empty text"), ("conv-00000004", 2, None, None)]
    rows += [("conv-x", i, text, text.split()[0]) for i, text in enumerate(_SPECIAL_TEXTS)]
    rows += [("conv-y", 0, "karo tenro straße οδος 漢字テスト", None)]
    schema = "conv_id string, turn_idx int, text string, title string"
    extra = spark.createDataFrame(rows, schema).select(*cols)
    again = spark.createDataFrame([
        ("conv-x", 0, "ΟΔΟΣ karo tenro again", "again"),
        ("conv-00000005", 0, "karo karo straße later", "later"),
        ("conv-z", 0, "tenro 漢字テスト karo", "z"),
    ], schema).select(*cols)
    routes = []
    real = store_mod.build_index_arrow

    def spy(*a, **kw):
        routes.append("driver")
        return real(*a, **kw)

    store_mod.build_index_arrow = spy
    try:
        seg = store.upsert(
            t.where(F.col("conv_id") < "conv-00000003").select(*cols).unionByName(extra)
        )
        routes.append(seg)
        routes.append(store.upsert(again))
        routes.append(store.merge_segments([0, seg]))
    finally:
        store_mod.build_index_arrow = real
    return store, routes


@pytest.mark.parametrize(
    "multi,positions,analyzer",
    [(False, True, "simple"), (False, False, "standard"),
     (True, True, "standard"), (True, False, "simple")],
    ids=["text-pos-simple", "text-nopos-standard", "title-pos-standard",
         "title-nopos-simple"],
)
def test_in_process_and_spark_builds_store_the_same_index(
    spark, tmp_path, multi, positions, analyzer
):
    """An upsert and a merge built in process (driver route) store the
    same tables as the Spark build (``_local_max_docs = 0``): equal
    schemas and no ``exceptAll`` row either way for every table, the
    tombstones and the metrics included; and OR, AND and phrase queries
    return identical (doc_id, repr(score)) under the tombstones."""
    stores = {}
    for route, lim in _FORCE.items():
        stores[route], steps = _build_route_store(
            spark, str(tmp_path / route), lim, multi, positions, analyzer
        )
        driver = ["driver"] * (route == "local")
        assert steps == [*driver, 1, *driver, 2, *driver, 3], (route, steps)
    ref, got = stores["spark"], stores["local"]
    tables = ["docs", "postings", "dictionary", "metrics", "corpus_stats"]
    tables += ["field_stats"] * multi
    for table in tables:
        a, b = ref._read_all(table), got._read_all(table)
        assert a.schema == b.schema, table
        assert a.exceptAll(b).count() == 0 == b.exceptAll(a).count(), table
    ta, tb = ref.tombstones_df(), got.tombstones_df()
    assert ta.count() > 0
    assert ta.exceptAll(tb).count() == 0 == tb.exceptAll(ta).count()

    def results(store):
        L = store.load()
        s = Searcher(
            spark, L.postings, L.dictionary, L.n_docs, L.avgdl,
            deleted_df=L.deleted_df, analyzer=L.analyzer,
        )

        def rows(df):
            return sorted((r["doc_id"], repr(r["score"])) for r in df.collect())

        out = {
            "or": rows(s.topk_blockmax("karo straße οδος i 漢字テスト", 40)),
            "and": rows(s.topk_blockmax_and("karo tenro", 40)),
        }
        if positions:
            out["phrase"] = rows(s.topk_phrase("karo karo", 40))
        return out

    want = results(ref)
    assert all(want.values()), want
    assert results(got) == want


def test_build_route_threshold_boundary(spark, tmp_path, monkeypatch):
    """An upsert batch of n deduped docs is built in process when the
    driver threshold is n and by Spark at n - 1; with the in-process
    build capped at n - 1 (``_LOCAL_BUILD_MAX_DOCS``) Spark builds it and
    the driver still writes it. A merge is routed on its segments'
    corpus_stats n_docs the same way."""
    from rabbit_index_ingest_spark.index import store as store_mod

    calls = []
    real = store_mod.build_index_arrow
    monkeypatch.setattr(
        store_mod, "build_index_arrow",
        lambda *a, **kw: calls.append(1) or real(*a, **kw),
    )
    base = transcripts_df(spark, n_conv=4)
    batch = base.where(F.col("conv_id") == "conv-00000001").withColumn(
        "text", F.concat("text", F.lit(" xenolith"))
    )
    n = batch.count()
    big = 10**12

    def routes(store, lim, cap, run):
        store._local_max_docs = lim
        monkeypatch.setattr(store_mod, "_LOCAL_BUILD_MAX_DOCS", cap)
        calls.clear()
        new_seg = run()
        docs_dir = os.path.join(store.root, "docs", f"seg={new_seg:05d}")
        spark_write = os.path.exists(os.path.join(docs_dir, "_SUCCESS"))
        return bool(calls), not spark_write

    for lim, cap, want in ((n, big, (True, True)), (n - 1, big, (False, False)),
                           (big, n - 1, (False, True))):
        store = IndexStore(spark, str(tmp_path / f"up{lim}_{cap}"))
        monkeypatch.setattr(store_mod, "_LOCAL_BUILD_MAX_DOCS", big)
        store.save(build_index(spark, base))
        # duplicates dedup to n
        got = routes(store, lim, cap, lambda: store.upsert(batch.unionByName(batch)))
        assert got == want, (lim, cap, got)
    # the build route counts the tombstoned docs (corpus_stats n_docs);
    # the write route follows the n fewer docs the merge keeps
    n_merge = sum(store.segment_sizes().values())
    for lim, cap, want in ((n_merge, big, (True, True)),
                           (n_merge - 1, big, (False, True)),
                           (big, n_merge - 1, (False, True))):
        other = IndexStore(spark, store.root + f"_m{lim}_{cap}")
        shutil.copytree(store.root, other.root)
        got = routes(other, lim, cap, lambda: other.merge_segments([0, 1]))
        assert got == want, (lim, cap, got)


@pytest.mark.parametrize("fault", ["shifted", "duplicated"])
def test_broken_in_process_numbering_fails_the_save(spark, tmp_path, monkeypatch, fault):
    """If the in-process build's doc numbering is wrong (every id one too
    high, or one id used twice and another not at all), the upsert's save
    checks the Arrow docs against the build's dense id range and raises
    before the docs stage is marked done."""
    import pyarrow as pa

    from rabbit_index_ingest_spark.index import build as build_mod

    real = build_mod.assign_doc_ids_arrow

    def broken(batch, id_base=0):
        t = real(batch, id_base)
        ids = t["doc_id"].to_numpy().copy()
        if fault == "shifted":
            ids += 1
        else:
            ids[1] = ids[2]
        return t.set_column(0, "doc_id", pa.array(ids, pa.int64()))

    store = IndexStore(spark, str(tmp_path / "idx"))
    store.save(build_index(spark, transcripts_df(spark, n_conv=4)))
    monkeypatch.setattr(build_mod, "assign_doc_ids_arrow", broken)
    batch = transcripts_df(spark, n_conv=6).where(F.col("conv_id") >= "conv-00000004")
    with pytest.raises(RuntimeError, match="doc-id assignment is broken"):
        store.upsert(batch)
    assert not store.stage_done("seg1/docs")


def test_driver_route_upsert_jobs(spark, root):
    """A driver-route upsert of an 80-turn parquet batch (60 new turns,
    20 re-ingested keys) runs at most 10 Spark jobs: the batch's dedup
    and collect, the store's stats and the superseded ids; the build and
    the writes run none."""
    t = transcripts_df(spark, n_conv=60)
    store = IndexStore(spark, root)
    store.save(build_index(spark, t))
    new = (
        t.where(F.col("conv_id") < "conv-00000012")
        .withColumn("conv_id", F.concat("conv_id", F.lit("-new")))
        .limit(60)
    )
    re = t.where(F.col("turn_idx") == 0).limit(20).withColumn(
        "text", F.concat("text", F.lit(" xenolith"))
    )
    path = os.path.join(root + "_batch")
    new.unionByName(re).coalesce(1).write.parquet(path)
    batch = spark.read.parquet(path)
    assert batch.count() == 80
    jobs = _jobs_of(spark, lambda: store.upsert(batch))
    assert 0 < len(jobs) <= 10, jobs
    assert len(store.tombstones()) == 20


def _bad_offsets(fault, offsets, n):
    """A wrong per-partition offset map for ``_presorted_partition_offsets``
    of the kind ``fault`` names; the true map is ``offsets`` (pid ->
    first id) over ``n`` rows in three partitions."""
    pids = sorted(offsets, key=offsets.get)
    starts = sorted(offsets.values())
    sizes = [b - a for a, b in zip(starts, [*starts[1:], n])]
    assert len(pids) == 3 and sizes[0] != sizes[2], sizes
    if fault == "shifted":  # every id one too high: max = next_doc_id
        return {p: o + 1 for p, o in offsets.items()}
    if fault == "swapped":  # sizes of the first and last partition
        # exchanged, same total: runs overlap or leave a gap
        return {pids[0]: 0, pids[1]: sizes[2], pids[2]: sizes[2] + sizes[1]}
    if fault == "overlap":  # the middle run starts one id early: bounds
        # and row count hold, one id doubles and one is unused
        return {**offsets, pids[1]: offsets[pids[1]] - 1}
    assert fault == "missing"  # a partition absent from the map: null ids
    return {p: o for p, o in offsets.items() if p != pids[1]}


@pytest.mark.parametrize("fault", ["shifted", "swapped", "overlap", "missing"])
@pytest.mark.parametrize("route", sorted(_FORCE))
def test_broken_doc_id_assignment_fails_the_save(
    spark, tmp_path, monkeypatch, route, fault
):
    """The shuffle-free doc-id path numbers a presorted file scan from a
    probe's per-partition offsets; if the offsets are wrong (shifted,
    taken from other partition sizes, overlapping, or missing a
    partition), the save checks the written docs against the build's
    dense id range and raises instead of committing the broken id space
    (both write routes)."""
    from rabbit_index_ingest_spark.index import build as build_mod

    path = str(tmp_path / "sorted_corpus")
    transcripts_df(spark, n_conv=12, partitions=3).write.parquet(path)
    corpus = spark.read.parquet(path).select("conv_id", "turn_idx", "text")
    real = build_mod._presorted_partition_offsets
    assert real(corpus, ("conv_id", "turn_idx")) is not None

    def broken(df, key_cols):
        offsets, n = real(df, key_cols)
        return _bad_offsets(fault, offsets, n), n

    monkeypatch.setattr(build_mod, "_presorted_partition_offsets", broken)
    store = IndexStore(spark, str(tmp_path / "idx"))
    store._local_max_docs = _FORCE[route]
    built = build_index(spark, corpus)
    with pytest.raises(RuntimeError, match="doc-id assignment is broken"):
        store.save(built)
    built.release()
    assert not store.stage_done("seg0/docs")


def test_load_reads_each_table_once_and_lists_on_driver(spark, root):
    """load() on a two-segment store launches at most 7 Spark jobs (one
    read per table; the corpus_stats aggregate) and no distributed
    listing of a segment's N_TERM_BUCKETS bucket directories."""
    from rabbit_index_ingest_spark.index.build import N_TERM_BUCKETS

    store = IndexStore(spark, root)
    store.save(build_index(spark, transcripts_df(spark, n_conv=20)))
    store.upsert(
        spark.createDataFrame(
            [("conv-00000002", 1, "xenolith gryphon palimpsest")],
            "conv_id string, turn_idx int, text string",
        )
    )
    assert store.segments() == [0, 1]
    jobs = _jobs_of(spark, store.load)
    assert 0 < len(jobs) <= 7, jobs
    for j, stages in jobs.items():
        for s, num_tasks in stages.items():
            assert num_tasks != N_TERM_BUCKETS, (j, s)


def _jobs_of(spark, action) -> dict[int, dict[int, int]]:
    """Run ``action`` and return ``{job id: {stage id: numTasks}}`` for
    every job it launched, skipped stages included. The figures come
    from a status store that listens only while ``action`` runs: the
    application's own store evicts stages (skipped ones first) once the
    session passes ``spark.ui.retainedStages``, which a long test session
    does."""
    sc = spark.sparkContext
    jsc, jvm = sc._jsc.sc(), sc._jvm
    status = jvm.org.apache.spark.status.AppStatusStore.createLiveStore(
        jsc.conf(), jvm.scala.Option.empty()
    )
    listener = status.listener().get()
    jsc.addSparkListener(listener)
    try:
        action()
        jsc.listenerBus().waitUntilEmpty()
    finally:
        jsc.removeSparkListener(listener)
    try:
        job_list = status.jobsList(None)
        out = {}
        for i in range(job_list.size()):
            job = job_list.apply(i)
            ids = job.stageIds()
            out[job.jobId()] = {
                ids.apply(k): status.lastStageAttempt(ids.apply(k)).numTasks()
                for k in range(ids.size())
            }
        return out
    finally:
        status.close()


def test_stats_rows_run_no_python_task(spark):
    """corpus_stats and field_stats are JVM literal rows: their plans
    hold no Python RDD scan or Python evaluation, so writing a one-row
    stats table forks no Python worker."""
    from rabbit_index_ingest_spark.index.build import build_index_multifield

    t = transcripts_df(spark, n_conv=5).withColumn("title", F.col("conv_id"))
    built = build_index_multifield(spark, t, fields={"text": "text", "title": "title"})
    try:
        for df in (built.corpus_stats, built.field_stats):
            plan = df._jdf.queryExecution().executedPlan().toString()
            assert "ExistingRDD" not in plan and "Python" not in plan, plan
        assert built.corpus_stats.schema.simpleString() == (
            "struct<n_docs:bigint,avgdl:double,total_tokens:bigint,"
            "next_doc_id:bigint,positions:boolean,analyzer:string,"
            "range_bits:bigint>"
        )
        assert built.field_stats.schema.simpleString() == (
            "struct<field:string,doc_count:bigint,avgdl:double,total_tokens:bigint>"
        )
    finally:
        built.release()


def test_streaming_incremental_index(spark, tmp_path):
    """availableNow file-stream → foreachBatch → segment upserts; the
    checkpoint makes re-runs no-ops (at-least-once → exactly-once)."""
    from rabbit_index_ingest_spark.streaming.ingest import (
        read_transcript_stream,
        start_incremental_index,
    )

    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    root = str(tmp_path / "idx")
    t = transcripts_df(spark, n_conv=10)
    t.write.mode("overwrite").parquet(src)

    q = start_incremental_index(
        read_transcript_stream(spark, src, max_files_per_trigger=100), root, ckpt
    )
    q.awaitTermination(120)
    store = IndexStore(spark, root)
    L, s = _searcher(spark, store)
    assert L.n_docs == t.count()
    assert s.topk_blockmax("karo", 3).count() == 3

    # replay with same checkpoint: no new segments (stream fully consumed)
    segs_before = store.segments()
    q2 = start_incremental_index(
        read_transcript_stream(spark, src, max_files_per_trigger=100), root, ckpt
    )
    q2.awaitTermination(60)
    assert IndexStore(spark, root).segments() == segs_before


def test_streaming_empty_micro_batches_add_no_segment(spark, tmp_path):
    """An empty file as the stream's first micro-batch leaves the store
    without a segment, and an empty file after data leaves the segment
    list unchanged (no emptiness job: the segment-0 build and the upsert
    both see the empty batch and write nothing)."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import to_arrow_schema

    from rabbit_index_ingest_spark.datagen import TRANSCRIPT_SCHEMA
    from rabbit_index_ingest_spark.streaming.ingest import (
        read_transcript_stream,
        start_incremental_index,
    )

    src, ckpt, root = (str(tmp_path / d) for d in ("src", "ckpt", "idx"))
    os.makedirs(src)
    schema = to_arrow_schema(TRANSCRIPT_SCHEMA)

    def drop_and_trigger(name, table):
        pq.write_table(table, os.path.join(src, name))
        q = start_incremental_index(read_transcript_stream(spark, src), root, ckpt)
        q.awaitTermination(120)
        return IndexStore(spark, root).segments()

    empty = pa.Table.from_pylist([], schema=schema)
    assert drop_and_trigger("b0.parquet", empty) == []
    data = pa.Table.from_pandas(
        transcripts_pandas(3)[schema.names], schema=schema, preserve_index=False
    )
    assert drop_and_trigger("b1.parquet", data) == [0]
    assert drop_and_trigger("b2.parquet", empty) == [0]
    assert IndexStore(spark, root).load().n_docs == data.num_rows


def test_streaming_dimension_refresh_picks_up_changes(spark, tmp_path):
    """A18 contract: the dimension is re-resolved per micro-batch, so rows
    arriving AFTER the dimension changes are enriched with the NEW values
    (the reference re-downloads its mapping after refresh_interval —
    base.py:64-81; here the trigger is the interval)."""
    from rabbit_index_ingest_spark.streaming.ingest import (
        read_transcript_stream,
        start_enriched_ingest,
    )

    src = str(tmp_path / "src")
    dim_path = str(tmp_path / "dim")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    t = transcripts_df(spark, n_conv=5)
    conv_ids = [r["conv_id"] for r in t.select("conv_id").distinct().collect()]

    def write_dim(label):
        spark.createDataFrame(
            [(c, f"{label}:{c}") for c in conv_ids], "conv_id string, title string"
        ).write.mode("overwrite").parquet(dim_path)

    def dim_loader(s):
        return s.read.parquet(dim_path)

    # batch 1 under dimension v1
    write_dim("v1")
    t.write.mode("overwrite").parquet(src)
    start_enriched_ingest(
        read_transcript_stream(spark, src, max_files_per_trigger=100),
        dim_loader, out, ckpt,
    ).awaitTermination(120)
    got1 = {r["title"] for r in spark.read.parquet(out).select("title").collect()}
    assert got1 == {f"v1:{c}" for c in conv_ids}

    # mutate the dimension, drop a second batch into the SAME stream
    write_dim("v2")
    t.withColumn("turn_idx", F.col("turn_idx") + 1000).write.mode(
        "append"
    ).parquet(src)
    start_enriched_ingest(
        read_transcript_stream(spark, src, max_files_per_trigger=100),
        dim_loader, out, ckpt,
    ).awaitTermination(120)
    new_rows = spark.read.parquet(out).where(F.col("turn_idx") >= 1000)
    got2 = {r["title"] for r in new_rows.select("title").collect()}
    assert got2 == {f"v2:{c}" for c in conv_ids}, "stale dimension was reused"


def test_enriched_ingest_replay_is_idempotent(spark, tmp_path):
    """A15/A16 contract for the enriched sink: a replayed micro-batch
    (checkpoint lost between write and commit) must NOT duplicate output
    rows — each batch_id dynamically overwrites its own partition."""
    from rabbit_index_ingest_spark.streaming.ingest import (
        read_transcript_stream,
        start_enriched_ingest,
    )

    src = str(tmp_path / "src")
    dim_path = str(tmp_path / "dim")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    t = transcripts_df(spark, n_conv=4)
    conv_ids = [r["conv_id"] for r in t.select("conv_id").distinct().collect()]
    spark.createDataFrame(
        [(c, f"t:{c}") for c in conv_ids], "conv_id string, title string"
    ).write.mode("overwrite").parquet(dim_path)

    def dim_loader(s):
        return s.read.parquet(dim_path)

    t.write.mode("overwrite").parquet(src)
    start_enriched_ingest(
        read_transcript_stream(spark, src, max_files_per_trigger=100),
        dim_loader, out, ckpt,
    ).awaitTermination(120)
    n1 = spark.read.parquet(out).count()
    assert n1 == t.count()
    # simulate the crash-before-commit: lose the checkpoint, replay the
    # same source — the batch re-runs with the same batch_id
    shutil.rmtree(ckpt)
    start_enriched_ingest(
        read_transcript_stream(spark, src, max_files_per_trigger=100),
        dim_loader, out, str(tmp_path / "ckpt2"),
    ).awaitTermination(120)
    assert spark.read.parquet(out).count() == n1, "replay duplicated rows"


def test_watermark_drops_late_rows(spark, tmp_path):
    """A17 contract: with a watermark, rows older than (max event time −
    delay) arriving in a later batch are DROPPED from append-mode windows —
    the bounded-wait replacement for the reference's 60 s sleep
    (base.py:83-100)."""
    from rabbit_index_ingest_spark.streaming.ingest import (
        read_transcript_stream,
        windowed_turn_counts,
    )

    src = str(tmp_path / "src")
    base = "2026-01-01 00:{m:02d}:00"
    rows1 = [("c1", 0, "user", "a", None, base.format(m=1)),
             ("c1", 1, "user", "b", None, base.format(m=30))]
    rows2 = [("c2", 0, "user", "late", None, base.format(m=2))]  # 28 min late
    schema = "conv_id string, turn_idx int, role string, text string, tool string, ts_s string"

    def write(rows, name):
        (
            spark.createDataFrame(rows, schema)
            .withColumn("ts", F.col("ts_s").cast("timestamp"))
            .drop("ts_s")
            .select("conv_id", "turn_idx", "role", "text", "tool", "ts")
            .write.mode("append").parquet(src)
        )

    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    def run_once():
        q = (
            windowed_turn_counts(
                read_transcript_stream(spark, src, max_files_per_trigger=100),
                "5 minutes",
            )
            .select("conv_id", F.col("window.start").alias("w_start"), "n_turns")
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    write(rows1, "b1")
    run_once()  # watermark advances to 00:25 (max 00:30 − 5 min), persisted
    write(rows2, "b2")  # minute-2 row arrives AFTER the watermark passed it
    run_once()  # resumes from checkpoint → late row dropped
    got = {
        (r["conv_id"], r["w_start"].minute): r["n_turns"]
        for r in spark.read.parquet(out).collect()
    }
    # c1's minute-1 window closed and was emitted; the late c2 row must not
    # materialize a window (the bounded-wait contract)
    assert ("c1", 1) in got, got
    assert all(k[0] != "c2" for k in got), got


def test_watermarked_stream_aggregation(spark, tmp_path):
    from rabbit_index_ingest_spark.streaming.ingest import (
        read_transcript_stream,
        windowed_turn_counts,
    )

    src = str(tmp_path / "src")
    transcripts_df(spark, n_conv=5).write.mode("overwrite").parquet(src)
    stream = read_transcript_stream(spark, src, max_files_per_trigger=100)
    agg = windowed_turn_counts(stream)
    q = (
        agg.writeStream.format("memory")
        .queryName("turn_counts")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    # watermark append-mode emits only closed windows; with a finite input
    # the final windows stay open — assert the query ran and the plan is
    # watermarked rather than asserting row counts.
    assert "turn_counts" in [t.name for t in spark.catalog.listTables()]
    assert q.lastProgress is not None


def test_upsert_duplicate_keys_in_batch_last_write_wins(spark, root):
    """A batch carrying the same (conv_id, turn_idx) twice leaves exactly
    ONE live version (reference doc_as_upsert contract: one message at a
    time, last write wins). Deterministic pick: max (ts, text)."""
    t = transcripts_df(spark, n_conv=10)
    store = IndexStore(spark, root)
    store.save(build_index(spark, t), segment=0)
    dup = spark.createDataFrame(
        [
            ("conv-dup", 0, "xenolith early version", "2024-01-01 00:00:00"),
            ("conv-dup", 0, "xenolith late version", "2024-01-02 00:00:00"),
        ],
        "conv_id string, turn_idx int, text string, ts string",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    store.upsert(dup)
    L, s = _searcher(spark, store)
    hits = s.fetch_topk("xenolith", 10, L.docs).collect()
    texts = {r["text"] for r in hits if r["conv_id"] == "conv-dup"}
    assert texts == {"xenolith late version"}


def test_upsert_tombstones_never_hit_driver_at_1e5(spark, root):
    """10^5-tombstone upsert on the Spark route (a batch below the driver
    threshold collects its keys): the superseded set stays a DataFrame
    (parquet tombstone table), load() does not collect it, and both query
    paths mask every tombstone."""
    n = 100_000
    base = spark.range(n).select(
        F.concat(F.lit("c"), F.lpad(F.col("id").cast("string"), 7, "0")).alias(
            "conv_id"
        ),
        F.lit(0).alias("turn_idx"),
        F.concat(F.lit("alpha beta gamma doc "), F.col("id")).alias("text"),
    )
    store = IndexStore(spark, root)
    store._local_max_docs = 0
    store.save(build_index(spark, base), segment=0)
    # re-ingest EVERY key → 10^5 tombstones
    store.upsert(base.withColumn("text", F.concat(F.col("text"), F.lit(" v2"))))
    L = store.load()
    assert L.deleted_df is not None
    assert L.deleted_df.count() == n
    s = Searcher(
        spark, L.postings, L.dictionary, L.n_docs, L.avgdl, deleted_df=L.deleted_df
    )
    top = s.topk_blockmax("alpha", 5).collect()
    assert len(top) == 5
    assert all(r["doc_id"] >= n for r in top)  # only v2 docs are live


def test_multi_segment_upsert_all_query_paths_agree(spark, root):
    """Upsert creates a second segment whose doc ids can share a 2^16 doc
    range with the first (id_base starts at max+1, mid-range): the
    cogrouped tombstone scorer WITH the θ₀ probe forced on and the
    DataFrame reference must agree."""
    t = transcripts_df(spark, n_conv=60)
    store = IndexStore(spark, root)
    store.save(build_index(spark, t), segment=0)
    upd = t.where(F.col("conv_id") < "conv-00000030").withColumn(
        "text", F.concat(F.col("text"), F.lit(" karo karo"))
    )
    store.upsert(upd)
    L = store.load()
    s_df = Searcher(
        spark, L.postings, L.dictionary, L.n_docs, L.avgdl,
        deleted_df=L.deleted_df, probe_min_blocks=1,
    )
    for q in ("karo", "karo tenro", "zephyr quantum lattice"):
        a = [(r["doc_id"], round(r["score"], 6))
             for r in s_df.topk_blockmax(q, 10).collect()]
        c = [(r["doc_id"], round(r["score"], 6))
             for r in s_df.topk_dataframe(q, 10).collect()]
        assert a == c, (q, a[:3], c[:3])


def test_empty_upsert_batch_is_a_noop(spark, root):
    """An upsert whose batch is empty (reference: no messages → no bulk
    actions) must not write an unreadable zero-file segment."""
    t = transcripts_df(spark, n_conv=10)
    store = IndexStore(spark, root)
    store.save(build_index(spark, t), segment=0)
    before = store.segments()
    seg = store.upsert(t.where(F.lit(False)))
    assert seg == -1
    assert store.segments() == before
    L, s = _searcher(spark, store)
    assert s.topk_blockmax("karo", 3).count() == 3


def test_save_empty_index_fails_loud(spark, root):
    t = transcripts_df(spark, n_conv=5).where(F.lit(False))
    built = build_index(spark, t)
    with pytest.raises(ValueError, match="empty index"):
        IndexStore(spark, root).save(built)


def test_compact_after_deleting_everything_leaves_empty_root(spark, root):
    t = transcripts_df(spark, n_conv=8)
    store = IndexStore(spark, root)
    store.save(build_index(spark, t), segment=0)
    # re-upsert every key → all original docs tombstoned; then tombstone
    # the replacements too by upserting again and compacting the union
    store.upsert(t)
    L = store.load()
    # delete every live doc by writing a full tombstone table
    L.docs.select("doc_id").write.mode("overwrite").parquet(
        os.path.join(root, "_tombstones", "seg=99999")
    )
    store.compact()
    assert store.segments() == []
    with pytest.raises(FileNotFoundError):
        store.load()


def test_load_on_missing_root_raises_clear_error(spark, tmp_path):
    store = IndexStore(spark, str(tmp_path / "nope"))
    with pytest.raises(FileNotFoundError, match="no index segments"):
        store.load()


def test_streaming_sessionize_stateful(spark, tmp_path):
    """applyInPandasWithState sessionization (the custom stateful
    streaming operator): sessions close on an over-gap same-user event
    AND on event-time timeout once the watermark passes session_end+gap;
    results match the batch twin (operators.analytics.session_summary)
    on the same monotone event stream."""
    import datetime as dt

    from rabbit_index_ingest_spark.operators.analytics import session_summary
    from rabbit_index_ingest_spark.streaming.ingest import (
        streaming_sessionize,
    )

    src = tmp_path / "events_src"
    src.mkdir()
    ckpt = str(tmp_path / "ckpt")
    schema = "user_id long, event_id long, ts timestamp"
    t0 = dt.datetime(2024, 6, 1, 0, 0, 0)

    def drop(name, rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(str(src / name))

    # batch 1: user 1 session A (2 events), user 2 session A (1 event)
    drop("b1", [
        (1, 0, t0),
        (1, 1, t0 + dt.timedelta(seconds=60)),
        (2, 2, t0 + dt.timedelta(seconds=5)),
    ])
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src) + "/*")
    )
    sess = streaming_sessionize(stream, gap_s=600, watermark="1 minute")
    q = (
        sess.writeStream.format("memory")
        .queryName("sessions_out")
        .outputMode("update")
        .option("checkpointLocation", ckpt)
        .trigger(processingTime="1 second")
        .start()
    )
    try:
        q.processAllAvailable()
        # batch 2: user 1 over-gap event -> closes session A inline
        drop("b2", [(1, 3, t0 + dt.timedelta(seconds=60 + 601))])
        q.processAllAvailable()
        got1 = {
            (r["user_id"], r["session_start"], r["session_end"], r["n_events"])
            for r in spark.table("sessions_out").collect()
        }
        assert (1, t0, t0 + dt.timedelta(seconds=60), 2) in got1, got1
        # batches 3+4: far-future events push the WATERMARK past every
        # open session's end+gap; the following trigger fires the
        # event-time timeouts for users 1 and 2
        far = t0 + dt.timedelta(days=2)
        drop("b3", [(9, 8, far)])
        q.processAllAvailable()
        drop("b4", [(9, 9, far + dt.timedelta(seconds=1))])
        q.processAllAvailable()
        got = {
            (r["user_id"], r["session_start"], r["session_end"], r["n_events"])
            for r in spark.table("sessions_out").collect()
        }
    finally:
        q.stop()
    want_closed = {
        (1, t0, t0 + dt.timedelta(seconds=60), 2),
        (1, t0 + dt.timedelta(seconds=661), t0 + dt.timedelta(seconds=661), 1),
        (2, t0 + dt.timedelta(seconds=5), t0 + dt.timedelta(seconds=5), 1),
    }
    assert want_closed <= got, got
    # parity with the batch twin on users 1/2 (monotone per-user stream)
    batch_rows = spark.createDataFrame(
        [
            (1, 0, t0),
            (1, 1, t0 + dt.timedelta(seconds=60)),
            (2, 2, t0 + dt.timedelta(seconds=5)),
            (1, 3, t0 + dt.timedelta(seconds=661)),
        ],
        schema,
    )
    twin = {
        (r["user_id"], r["session_start"], r["session_end"], r["n_events"])
        for r in session_summary(
            batch_rows, gap_s=600, tiebreak_col="event_id"
        ).collect()
    }
    assert twin <= got, (twin, got)


def test_streaming_dedup_within_watermark(spark, tmp_path):
    """dropDuplicatesWithinWatermark-based streaming exact dedup: the
    first arrival of each distinct content survives, in-watermark copies
    (same or later micro-batch) are dropped; the surviving content SET
    equals the batch twin operators.dedup.exact_dedup on the union."""
    import datetime as dt

    from rabbit_index_ingest_spark.operators.dedup import exact_dedup
    from rabbit_index_ingest_spark.streaming.ingest import dedup_stream

    src = tmp_path / "turns_src"
    src.mkdir()
    ckpt = str(tmp_path / "ckpt_dedup")
    schema = "conv_id string, turn_idx int, text string, ts timestamp"
    t0 = dt.datetime(2024, 6, 1, 0, 0, 0)

    def drop(name, rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(str(src / name))

    rows1 = [
        ("c1", 0, "alpha beta gamma", t0),
        ("c1", 1, "alpha beta gamma", t0 + dt.timedelta(seconds=10)),  # dup
        ("c2", 0, "Alpha  BETA gamma!", t0 + dt.timedelta(seconds=20)),  # dup (analyzer-insensitive? no: md5(lower(text)) — different punctuation => distinct)
        ("c3", 0, "delta", t0 + dt.timedelta(seconds=30)),
    ]
    rows2 = [
        ("c4", 0, "alpha beta gamma", t0 + dt.timedelta(seconds=40)),  # dup across batches
        ("c5", 0, "epsilon", t0 + dt.timedelta(seconds=50)),
        ("c5", 1, "delta", t0 + dt.timedelta(seconds=55)),  # dup across batches
    ]
    drop("b1", rows1)
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src) + "/*")
    )
    out = dedup_stream(stream, watermark="10 minutes")
    q = (
        out.writeStream.format("memory")
        .queryName("dedup_out")
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(processingTime="1 second")
        .start()
    )
    try:
        q.processAllAvailable()
        drop("b2", rows2)
        q.processAllAvailable()
        # append-mode rows flush once the watermark passes; push it far
        drop("b3", [("zz", 0, "far future", t0 + dt.timedelta(days=1))])
        q.processAllAvailable()
        drop("b4", [("zz", 1, "farther", t0 + dt.timedelta(days=1, seconds=5))])
        q.processAllAvailable()
        got = {
            r["text"] for r in spark.table("dedup_out").collect()
        }
    finally:
        q.stop()
    union = spark.createDataFrame(
        rows1 + rows2, schema
    ).withColumn("doc_id", F.monotonically_increasing_id())
    want = {
        r["text"]
        for r in exact_dedup(union, key_col="doc_id").collect()
    }
    # streaming survivors = batch survivors as a content set (md5(lower))
    def norm(s):
        return s.lower()
    assert {norm(t) for t in got if t not in ("far future", "farther")} == {
        norm(t) for t in want
    }
    # and the duplicate contents appear exactly once
    texts = [r["text"].lower() for r in spark.table("dedup_out").collect()]
    assert texts.count("alpha beta gamma") == 1
    assert texts.count("delta") == 1


def test_store_stats_api(spark, tmp_path):
    """ES _stats analogue: segment list, live vs deleted doc counts,
    corpus totals, analyzer, fields, store size — tracked across an
    upsert that tombstones superseded docs."""
    from rabbit_index_ingest_spark.datagen import transcripts_df
    from rabbit_index_ingest_spark.index.build import build_index
    from rabbit_index_ingest_spark.index.store import IndexStore
    from pyspark.sql import functions as F

    t = transcripts_df(spark, n_conv=12)
    n0 = t.count()
    built = build_index(spark, t)
    store = IndexStore(spark, str(tmp_path / "idx"))
    store.save(built)
    st = store.stats()
    assert st["segments"] == [0] and st["n_segments"] == 1
    assert st["docs_indexed"] == n0 == st["docs_count"]
    assert st["docs_deleted"] == 0
    assert st["analyzer"] == "simple" and st["fields"] == ["text"]
    assert st["total_tokens"] > 0 and st["store_size_bytes"] > 0
    assert st["avgdl"] == pytest.approx(st["total_tokens"] / n0)
    # upsert: 3 replacements (tombstoned) + 1 brand-new doc
    batch = t.where(F.col("turn_idx") == 0).limit(3).select(
        "conv_id", "turn_idx", F.concat(F.lit("karo "), "text").alias("text")
    ).unionByName(
        spark.createDataFrame(
            [("zz-new", 0, "karo zephyr")], "conv_id string, turn_idx long, text string"
        )
    )
    store.upsert(batch)
    st2 = store.stats()
    assert st2["n_segments"] == 2
    assert st2["docs_indexed"] == n0 + 4  # all versions ever indexed
    assert st2["docs_deleted"] == 3  # superseded originals
    assert st2["docs_count"] == n0 + 1  # live docs
    assert st2["store_size_bytes"] > st["store_size_bytes"]
    built.release()


def test_update_by_query(spark, tmp_path):
    """ES _update_by_query: matched LIVE docs re-indexed through the
    upsert path with a SQL transform — old versions tombstoned, search
    reflects the new text, unmatched docs untouched, count returned."""
    from rabbit_index_ingest_spark.datagen import transcripts_df
    from rabbit_index_ingest_spark.index.build import build_index
    from rabbit_index_ingest_spark.index.query import Searcher
    from rabbit_index_ingest_spark.index.store import IndexStore
    from pyspark.sql import functions as F

    t = transcripts_df(spark, n_conv=12)
    store = IndexStore(spark, str(tmp_path / "idx"))
    store.save(build_index(spark, t))

    def searcher():
        L = store.load()
        return L, Searcher(
            spark, L.postings, L.dictionary, L.n_docs, L.avgdl,
            deleted_df=L.deleted_df,
        )

    L0, s0 = searcher()
    before = {r["doc_id"] for r in s0._matched_docs("zephyr").collect()}
    assert before
    # docs matching 'zephyr' get a sentinel token appended
    n = store.update_by_query(
        "zephyr", {"text": "concat(text, ' qqsentinelqq')"}
    )
    assert n == len(before)
    L1, s1 = searcher()
    # the sentinel now matches exactly the updated KEYS (fresh doc_ids)
    sent = s1._matched_docs("qqsentinelqq")
    keys = {
        (r["conv_id"], r["turn_idx"])
        for r in sent.join(L1.doc_stats, "doc_id").collect()
    }
    want_keys = {
        (r["conv_id"], r["turn_idx"])
        for r in L0.doc_stats.join(
            spark.createDataFrame(
                [(d,) for d in sorted(before)], "doc_id long"
            ), "doc_id",
        ).collect()
    }
    assert keys == want_keys
    # old versions are tombstoned: zephyr match count unchanged (the new
    # versions still contain zephyr), but all matched doc_ids are NEW
    after = {r["doc_id"] for r in s1._matched_docs("zephyr").collect()}
    assert len(after) == len(before) and not (after & before)
    # stats see the updates as upsert segments
    st = store.stats()
    assert st["docs_deleted"] == n and st["docs_count"] == t.count()
    # validation: unknown column, empty exprs, unknown mode
    with pytest.raises(ValueError, match="content column"):
        store.update_by_query("zephyr", {"nope": "'x'"})
    with pytest.raises(ValueError, match="at least one"):
        store.update_by_query("zephyr", {})
    with pytest.raises(ValueError, match="mode"):
        store.update_by_query("zephyr", {"text": "text"}, mode="xor")
    # no match → no-op, 0
    assert store.update_by_query("qzxabsent", {"text": "text"}) == 0


def test_snapshot_and_restore(spark, tmp_path):
    """Snapshot = point-in-time full copy (immutable segment tree);
    restore materializes it as a live store; later mutations to the
    original never leak into the snapshot."""
    from rabbit_index_ingest_spark.datagen import transcripts_df
    from rabbit_index_ingest_spark.index.build import build_index
    from rabbit_index_ingest_spark.index.query import Searcher
    from rabbit_index_ingest_spark.index.store import IndexStore

    t = transcripts_df(spark, n_conv=10)
    store = IndexStore(spark, str(tmp_path / "idx"))
    store.save(build_index(spark, t))

    def topk(st):
        L = st.load()
        s = Searcher(
            spark, L.postings, L.dictionary, L.n_docs, L.avgdl,
            deleted_df=L.deleted_df,
        )
        return [
            (r["doc_id"], round(r["score"], 9))
            for r in s.topk_blockmax("zephyr karo", 10).collect()
        ]

    want = topk(store)
    snap = str(tmp_path / "snap")
    info = store.snapshot(snap)
    assert info["files"] > 0 and info["bytes"] > 0
    assert info["segments"] == [0]
    # mutate the original AFTER the snapshot
    n_del = store.delete_by_query("zephyr")
    assert n_del > 0 and topk(store) != want
    # the snapshot still answers with the point-in-time state
    assert topk(IndexStore(spark, snap)) == want
    # restore to a fresh location
    restored = IndexStore.restore(spark, snap, str(tmp_path / "rest"))
    assert topk(restored) == want
    # guards: non-empty destination, nested destination, empty source
    with pytest.raises(FileExistsError):
        store.snapshot(snap)
    with pytest.raises(ValueError, match="inside the store root"):
        store.snapshot(str(tmp_path / "idx" / "sub"))
    with pytest.raises(FileExistsError):
        IndexStore.restore(spark, snap, str(tmp_path / "rest"))
    with pytest.raises(FileNotFoundError):
        IndexStore(spark, str(tmp_path / "nope")).snapshot(
            str(tmp_path / "snap2")
        )


def test_mget_and_term_vectors(spark, tmp_path):
    """ES _mget (every requested key answers, found flag, newest version
    after upsert) and _termvectors (per-position rows with tf/df/ttf
    from the merged dictionary, re-analyzed source)."""
    from collections import Counter

    from rabbit_index_ingest_spark.analysis import py_tokenize
    from rabbit_index_ingest_spark.datagen import transcripts_df
    from rabbit_index_ingest_spark.index.build import build_index
    from rabbit_index_ingest_spark.index.store import IndexStore
    from pyspark.sql import functions as F

    t = transcripts_df(spark, n_conv=8)
    store = IndexStore(spark, str(tmp_path / "idx"))
    store.save(build_index(spark, t))
    rows = {(r["conv_id"], r["turn_idx"]): r["text"] for r in t.collect()}
    (c0, i0), (c1, i1) = sorted(rows)[0], sorted(rows)[3]
    got = store.mget([(c0, i0), (c1, i1), ("conv-nope", 0)]).collect()
    assert [(r["conv_id"], r["turn_idx"], r["found"]) for r in got] == [
        (c0, i0, True), (c1, i1, True), ("conv-nope", 0, False)
    ]
    assert got[0]["text"] == rows[(c0, i0)]
    assert got[2]["text"] is None and got[2]["doc_id"] is None
    # upsert replaces: mget must return the NEW text, never the tombstoned
    store.upsert(spark.createDataFrame(
        [(c0, i0, "karo zephyr karo")],
        "conv_id string, turn_idx long, text string",
    ))
    got2 = store.mget([(c0, i0)]).collect()
    assert got2[0]["text"] == "karo zephyr karo" and got2[0]["found"]
    with pytest.raises(ValueError, match="at least one"):
        store.mget([])
    # term vectors of the updated doc: positions/tf from the new text,
    # df/ttf from the merged (all-versions) dictionary
    tv = store.term_vectors(c0, i0).collect()
    toks = py_tokenize("karo zephyr karo")
    want_pos = sorted((tok, p) for p, tok in enumerate(toks))
    assert [(r["term"], r["pos"]) for r in tv] == want_pos
    tf = Counter(toks)
    assert all(r["tf"] == tf[r["term"]] for r in tv)
    # corpus stats: every doc version ever indexed counts (segment model)
    all_texts = list(rows.values()) + ["karo zephyr karo"]
    df_c = Counter()
    ttf_c = Counter()
    for txt in all_texts:
        tk = py_tokenize(txt)
        ttf_c.update(tk)
        df_c.update(set(tk))
    assert all(
        r["df"] == df_c[r["term"]] and r["ttf"] == ttf_c[r["term"]]
        for r in tv
    )
    # absent / tombstoned doc → empty
    assert store.term_vectors("conv-nope", 0).count() == 0
