"""Query-time top-k BM25 retrieval (SURVEY.md §2.2 B5-B6, §3.4 QUERY).

Two independent paths that must agree rank- and score-identically:

* ``Searcher.topk_dataframe`` — the *reference scorer*: decode blocks to
  flat (term, doc_id, tf, dl) rows, pure-DataFrame join/agg, global
  ``orderBy().limit(k)`` (TakeOrderedAndProject). Transparently correct; it
  is also the shape of the DuckDB oracle_sql twin.

* ``Searcher.topk_blockmax`` — the fast path: term-pruned block scan
  (``Searcher._term_blocks``: Catalyst partition pruning on the
  term-hash ``bucket`` storage partition) → per-doc-range exact
  MaxScore/block-max scoring in ``applyInPandas`` (dense float64
  accumulators per 2^RANGE_BITS-doc range, conservative block
  skipping) → local top-k → global
  TakeOrderedAndProject. Exactness: a block is skipped only when every doc
  in it has a provable final-score upper bound below the running local
  kth-best lower bound θ, so no skipped doc can reach the top-k and every
  returned doc was fully scored. Final scores are accumulated in
  sorted-term order (float64) so they are bit-comparable with the
  pure-Python oracle (SURVEY.md §4.2 exact-score discipline).

Every block-max mode (BM25 OR/AND/msm/dis_max/multi_match/search_after,
phrase, sloppy phrase, phrase-prefix, span_near, constant-score
expansions) runs through ONE per-range scorer chassis,
``Searcher._run_range_scorer``, which owns the per-range live bitmap
``C`` (tombstones, allow- and deny-lists), the skip count, the merge and
the transport. A mode only supplies its kernel, built by a
``_make_*_range_scorer`` factory: ``kernel(base, pdf, C) -> (rows,
skipped)`` scores one doc range (contract on the chassis). The same
kernels run over two transports, picked per query from the terms'
estimated block count: below ``_LOCAL_MAX_BLOCKS`` and without a side
frame the pruned blocks are collected over Arrow and scored on the
driver; otherwise they are grouped (or cogrouped with the side frame) by
doc range into an ``applyInPandas`` stage.

Every query reads postings and dictionary rows through ONE owner of the
term-pruned scan, ``_term_rows`` (``Searcher._term_blocks`` for posting
blocks, ``Searcher._term_entries`` for dictionary rows) — the only code
that knows the ``bucket`` storage layout. The DataFrame paths mask dead,
allowed and excluded docs through ONE live mask, ``Searcher._mask``.

Replaces: the reference's delegation of search to Elasticsearch 7.9.1
(Lucene 8.6 block-max WAND + BM25 k1=1.2 b=0.75; constants pinned in
codec.K1 / codec.B).
"""

from __future__ import annotations

import math
import re
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..analysis import py_tokenize
from . import codec
from .build import RANGE_BITS
from .store import _job_description

FLAT_SCHEMA = T.StructType(
    [
        T.StructField("term", T.StringType(), False),
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("tf", T.LongType(), False),
        T.StructField("dl", T.LongType(), False),
    ]
)

FLAT_POS_SCHEMA = T.StructType(
    [
        T.StructField("term", T.StringType(), False),
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("tf", T.LongType(), False),
        T.StructField("dl", T.LongType(), False),
        T.StructField("positions", T.ArrayType(T.LongType(), False), False),
    ]
)

TOPK_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("score", T.DoubleType(), False),
    ]
)

# columns the BM25 scorers actually consume — selected before every
# mapInPandas/applyInPandas so the (phrase-only) pos_bytes stream never
# rides the Arrow transfer of a non-phrase query
_SCORE_COLS = [
    "term", "range_id", "first_doc", "last_doc",
    "doc_bytes", "tf_bytes", "dl_bytes", "max_tf", "min_dl",
]


# Below this many estimated posting blocks (Σ⌈df/BLOCK_SIZE⌉ over the
# query terms) a query without side frames is scored on the driver: the
# pruned blocks are collected over Arrow and the range kernels run
# in-process, instead of paying a grouped pandas-UDF stage whose fixed
# cost (about 0.4 s on 4 cores) dwarfs a few hundred blocks' kernel
# time. Measured on a 210k-turn index, local[4]: the two routes break
# even at about 2.5k blocks (phrase), 3k (OR, k=100) and 3.5-4k (AND);
# the threshold sits below all three, leaving room for hosts with more
# cores, where the distributed route's per-block cost is lower.
_LOCAL_MAX_BLOCKS = 1536


# the dictionary columns the scorers plan from: (df, max_tf, min_dl)
_META_COLS = ["df", "max_tf", "min_dl"]


def _estimated_blocks(meta: dict[str, tuple[int, int, int]]) -> int:
    """Σ⌈df/BLOCK_SIZE⌉ over the terms of ``meta`` (term → (df, max_tf,
    min_dl)): the posting blocks a query's term-pruned scan reads."""
    return sum(-(-m[0] // codec.BLOCK_SIZE) for m in meta.values() if m[0] > 0)


def lucene_idf(n_docs: int, df: int) -> float:
    """ES 7 / Lucene 8 BM25 idf (SURVEY.md B5)."""
    return math.log(1.0 + (n_docs - df + 0.5) / (df + 0.5))


def parse_min_should_match(spec: int | str, n: int) -> int:
    """ES ``minimum_should_match`` spec → required clause count, the
    Lucene/ES ``Queries.calculateMinShouldMatch`` contract over ``n``
    optional clauses:

    * positive int ``"3"``/``3`` — that many;
    * negative int ``"-2"`` — ``n - 2`` (that many may be missing);
    * percentage ``"75%"`` — ``trunc(n · 75 / 100)``;
    * negative percentage ``"-25%"`` — ``n + trunc(n · -25 / 100)``
      (Java ``(int)`` casts truncate TOWARD ZERO: -25% of 10 is -2.5 →
      -2 → 8, matching the documented ES examples);
    * conditionals ``"3<90%"`` (space-separated multiples allowed,
      e.g. ``"2<-25% 9<-3"``) — evaluated left to right; the first
      bound with ``n <= bound`` returns the result computed SO FAR
      (initially ``n`` = all), otherwise the right-hand spec applies.

    A computed value ≤ 0 means "no minimum" — clamped to 1, which is
    retrieval-identical (a doc matching zero clauses never scores). A
    value > n is returned as-is (the query can then match nothing,
    Lucene's behavior)."""
    if isinstance(spec, int):
        result = n + spec if spec < 0 else spec
        return max(result, 1)
    s = spec.strip()
    if "<" in s:
        result = n
        for cond in s.split():
            bound_s, _, sub = cond.partition("<")
            if not sub:
                raise ValueError(f"bad minimum_should_match spec: {spec!r}")
            if n <= int(bound_s):
                return max(result, 1)
            result = parse_min_should_match(sub, n)
        return max(result, 1)
    if s.endswith("%"):
        percent = int(s[:-1])
        calc = n * percent / 100.0
        result = n + int(calc) if calc < 0 else int(calc)
    else:
        calc = int(s)
        result = n + calc if calc < 0 else calc
    return max(result, 1)


_QS_TOKEN = re.compile(r'([+-]?)("[^"]*"|\S+)')


def parse_simple_query_string(
    text: str, default_operator: str = "or"
) -> dict[str, list[dict]]:
    """ES ``simple_query_string`` → bool-query clause lists (the subset a
    human actually types in a search bar):

    * ``word`` — optional clause (``should``; ``must`` when
      ``default_operator="and"``, the ES flag);
    * ``+word`` — required (``must``); ``-word`` — prohibited
      (``must_not``); the sign applies to phrases too;
    * ``"a phrase"`` — ``match_phrase`` clause;
    * ``word*`` — ``prefix`` clause (trailing-asterisk only, like the
      simple_query_string PREFIX flag).

    simple_query_string's contract is LENIENCY — it never throws on user
    input. Unsupported syntax characters (``| ( ) ~``, mid-token ``*``)
    are simply analyzed away by the tokenizer (alnum runs), which for the
    flat grammar coincides with ES's own handling of ``|`` under
    default_operator=or; a prefix whose stem analyzes to several tokens
    falls back to a plain match clause. Returns
    ``{"must": [...], "should": [...], "must_not": [...]}`` ready for
    ``Searcher.bool_query(**spec)``."""
    if default_operator not in ("or", "and"):
        raise ValueError(
            f"default_operator must be 'or' or 'and', got {default_operator!r}"
        )
    out: dict[str, list[dict]] = {"must": [], "should": [], "must_not": []}
    bare = "must" if default_operator == "and" else "should"
    for sign, body in _QS_TOKEN.findall(text):
        bucket = {"+": "must", "-": "must_not"}.get(sign, bare)
        if body.startswith('"'):
            inner = body[1:-1] if body.endswith('"') and len(body) > 1 else body
            if py_tokenize(inner):
                out[bucket].append({"match_phrase": {"query": inner}})
            continue
        if body.endswith("*") and len(body) > 1:
            stem = body[:-1]
            if len(py_tokenize(stem)) == 1:
                out[bucket].append({"prefix": {"value": stem}})
                continue
        if py_tokenize(body):
            out[bucket].append({"match": {"query": body}})
    return out


def _fold_boosts(
    idfs: dict[str, float], boosts: dict[str, float] | None
) -> dict[str, float]:
    """ES query-time boost fold (Lucene BoostQuery): multiply each term's
    idf by its boost BEFORE planning so every downstream bound (θ₀ seed,
    per-term upper bounds, partial-score lower bounds) scales with the
    boosted idf. Shared by the block-max AND DataFrame paths so both
    validate identically — a negative boost must raise everywhere, never
    silently corrupt one twin's ranking (round-5 ADVICE)."""
    if not boosts:
        return idfs
    bad = {t: b for t, b in boosts.items() if float(b) < 0}
    if bad:
        raise ValueError(f"boosts must be >= 0, got {bad}")
    return {t: v * float(boosts.get(t, 1.0)) for t, v in idfs.items()}


def _empty_topk(spark: SparkSession) -> DataFrame:
    """Empty (doc_id, score) result as a pure plan — createDataFrame([],
    schema) takes seconds on first use (Arrow/py4j init); range(0) is free."""
    return spark.range(0).select(
        F.col("id").alias("doc_id"), F.lit(0.0).alias("score")
    )


def _binary_stream(col) -> tuple[np.ndarray, np.ndarray]:
    """(concatenated uint8 stream, per-row byte lengths) of one Arrow
    binary column — zero-copy views over the batch buffers (an Arrow
    binary array IS one contiguous data buffer plus an offsets array, so
    "concatenate every row" is a slice, not a copy)."""
    import pyarrow as pa

    off_dtype = np.int64 if pa.types.is_large_binary(col.type) else np.int32
    offs = np.frombuffer(col.buffers()[1], dtype=off_dtype)[
        col.offset : col.offset + len(col) + 1
    ]
    data = np.frombuffer(col.buffers()[2], dtype=np.uint8)
    return data[offs[0] : offs[-1]], np.diff(offs).astype(np.int64)


def flat_postings(blocks: DataFrame) -> DataFrame:
    """Decode posting blocks back to one row per (term, doc_id) posting.

    Arrow-native batch decode (guide §4.2): the whole Arrow batch's
    varbyte streams are decoded in ONE vectorized pass
    (``codec.decode_blocks_batch`` — concatenated streams are valid
    streams, block boundaries reconstruct via segment cumsum), the term
    column fans out with an Arrow ``take``, and the output is built as
    Arrow arrays directly. Replaces a per-block Python loop that built
    one pandas frame per block + a batch-wide ``pd.concat`` — profiled
    at 2-4× the decode cost for hot terms.
    """

    def decode(batches) -> Iterator:
        import pyarrow as pa

        for batch in batches:
            n = batch.num_rows
            if n == 0:
                continue
            nd = batch.column("n_docs").to_numpy().astype(np.int64)
            doc_s, _ = _binary_stream(batch.column("doc_bytes"))
            tf_s, _ = _binary_stream(batch.column("tf_bytes"))
            dl_s, _ = _binary_stream(batch.column("dl_bytes"))
            ids, tfs, dls = codec.decode_blocks_batch(nd, doc_s, tf_s, dl_s)
            idx = pa.array(np.repeat(np.arange(n, dtype=np.int64), nd))
            yield pa.RecordBatch.from_arrays(
                [
                    batch.column("term").take(idx),
                    pa.array(ids),
                    pa.array(tfs),
                    pa.array(dls),
                ],
                names=["term", "doc_id", "tf", "dl"],
            )

    # explicit projection: the decoder ships every input column through
    # Arrow, so without this a positional index would pay pos_bytes
    # transfer on every BM25 query
    return blocks.select(
        "term", "n_docs", "doc_bytes", "tf_bytes", "dl_bytes"
    ).mapInArrow(decode, FLAT_SCHEMA)


def flat_postings_positional(blocks: DataFrame) -> DataFrame:
    """Decode posting blocks to (term, doc_id, tf, dl, positions) rows —
    ``positions`` is the doc's ascending within-doc token positions of
    ``term`` (phrase/proximity queries). Raises inside the task if the
    index was built with ``positions=False`` (empty pos stream).

    Arrow-native like ``flat_postings``; the position column is built as
    a ``ListArray`` over the batch-decoded flat positions and the per-doc
    offsets — no per-doc ``np.split`` (one tiny ndarray per doc) and no
    object-Series→Arrow conversion, which profiled at ~4.6× the
    positionless decode for hot terms (5.9 s vs 1.3 s at sf0.1)."""

    def decode(batches) -> Iterator:
        import pyarrow as pa

        for batch in batches:
            n = batch.num_rows
            if n == 0:
                continue
            nd = batch.column("n_docs").to_numpy().astype(np.int64)
            doc_s, _ = _binary_stream(batch.column("doc_bytes"))
            tf_s, _ = _binary_stream(batch.column("tf_bytes"))
            dl_s, _ = _binary_stream(batch.column("dl_bytes"))
            ids, tfs, dls = codec.decode_blocks_batch(nd, doc_s, tf_s, dl_s)
            pos_s, pos_len = _binary_stream(batch.column("pos_bytes"))
            block_starts = np.zeros(n, dtype=np.int64)
            np.cumsum(nd[:-1], out=block_starts[1:])
            occ_pb = np.add.reduceat(tfs, block_starts)
            if ((pos_len == 0) & (occ_pb > 0)).any():
                raise ValueError(
                    "posting block has no position stream — the index "
                    "was built with positions=False; rebuild with "
                    "build_index(..., positions=True) for phrase queries"
                )
            flat, offs = codec.decode_positions_batch(tfs, pos_s)
            if offs[-1] > np.iinfo(np.int32).max:
                raise ValueError(
                    "arrow batch position payload exceeds int32 offsets; "
                    "lower spark.sql.execution.arrow.maxRecordsPerBatch"
                )
            idx = pa.array(np.repeat(np.arange(n, dtype=np.int64), nd))
            positions = pa.ListArray.from_arrays(
                pa.array(offs.astype(np.int32), type=pa.int32()),
                pa.array(flat),
            )
            yield pa.RecordBatch.from_arrays(
                [
                    batch.column("term").take(idx),
                    pa.array(ids),
                    pa.array(tfs),
                    pa.array(dls),
                    positions,
                ],
                names=["term", "doc_id", "tf", "dl", "positions"],
            )

    return blocks.select(
        "term", "n_docs", "doc_bytes", "tf_bytes", "dl_bytes", "pos_bytes"
    ).mapInArrow(decode, FLAT_POS_SCHEMA)


def _term_rows(table: DataFrame, terms: list[str]) -> DataFrame:
    """The rows of ``terms`` in a term-partitioned index table (postings
    or dictionary, both stored under ``bucket = xxhash64(term) mod
    N_TERM_BUCKETS``): the terms' buckets as a partition filter, then the
    ``term`` filter. The one place that knows the bucket layout. Buckets
    are computed driver-side with the pure-Python twin of Spark's xxhash64
    (functions/hashing.py, parity asserted in tests/test_hashing.py), so
    the lookup costs no Spark job."""
    from ..functions.hashing import term_bucket
    from .build import N_TERM_BUCKETS

    buckets = sorted({term_bucket(t, N_TERM_BUCKETS) for t in terms})
    return table.where(F.col("bucket").isin(buckets)).where(
        F.col("term").isin(list(terms))
    )


class Searcher:
    """Bound query interface over the index tables.

    ``deleted_df`` is the tombstone table of superseded doc_ids (upsert
    semantics, SURVEY.md B7) — filtered before local/global top-k so
    replaced docs can never surface.
    """

    def __init__(
        self,
        spark: SparkSession,
        postings: DataFrame,
        dictionary: DataFrame,
        n_docs: int,
        avgdl: float,
        range_bits: int = RANGE_BITS,
        deleted_df: DataFrame | None = None,
        probe_min_blocks: int = 2048,
        field_stats: dict[str, tuple[int, float]] | DataFrame | None = None,
        analyzer: str = "simple",
        doc_stats: DataFrame | None = None,
    ):
        """``deleted_df``: the tombstoned doc_ids as a DataFrame
        (``LoadedIndex.deleted_df``), cogrouped per doc range by the
        scorers — never collected to the driver.

        ``probe_min_blocks`` gates the global-θ₀ seed probe (see
        ``_seed_theta0``): queries whose estimated decode volume is below
        it skip the probe — at small corpus sizes the extra tiny Spark job
        costs more than the decodes it saves, while at 10^6+-posting terms
        the seeded θ lets every doc range prune from its first block."""
        self.spark = spark
        self.postings = postings
        self.dictionary = dictionary
        self.n_docs = n_docs
        self.avgdl = avgdl
        self.deleted_df = deleted_df
        self.range_bits = range_bits
        self.probe_min_blocks = probe_min_blocks
        # query-time analyzer — MUST match the index's build analyzer
        # (IndexStore persists it in corpus_stats; pass LoadedIndex.analyzer)
        self.analyzer = analyzer
        self._tok = lambda text: py_tokenize(text, analyzer)
        # per-doc roster (BuiltIndex.doc_stats / LoadedIndex.doc_stats) —
        # the ONLY table that knows about zero-token docs, which match_all
        # and ids must still match (ES: an empty-text doc is a live doc).
        # Optional: without it, match_all falls back to the postings-
        # derived doc set (misses dl=0 docs; documented on _all_docs_attrs).
        self.doc_stats = doc_stats
        # multi-field indexes: field → (doc_count, avgdl), Lucene semantics
        # (BuiltIndex.field_stats). Accepts the field_stats DataFrame
        # directly (collected once — it has one row per scored field).
        if field_stats is not None and not isinstance(field_stats, dict):
            field_stats = {
                r["field"]: (int(r["doc_count"]), float(r["avgdl"]))
                for r in field_stats.collect()
            }
        self.field_stats = field_stats
        # phrase skew guard: broadcast the rarest term's doc set and
        # semi-filter other terms' positional decodes when its df is below
        # this (2M doc_ids ≈ 16 MB broadcast — cheap vs shipping a hot
        # term's full position stream through the shuffle)
        self._PHRASE_PREFILTER_MAX_DF = 2_000_000
        # term → (df, max_tf, min_dl) cache: repeated query terms skip the
        # dictionary scan (the dictionary is immutable for a Searcher's
        # lifetime; df=0 is cached too so absent terms don't re-scan)
        self._df_cache: dict[str, tuple[int, int, int]] = {}
        # scorer transport threshold (see _run_range_scorer); tests set it
        # per instance to force one route
        self._local_max_blocks = _LOCAL_MAX_BLOCKS

    def _term_blocks(self, terms: list[str]) -> DataFrame:
        """The term-pruned scan: the posting blocks of ``terms``, read from
        their storage buckets only (``_term_rows``)."""
        return _term_rows(self.postings, terms)

    def _term_entries(self, terms: list[str]) -> DataFrame:
        """The dictionary rows of ``terms`` (``_term_blocks``' twin)."""
        return _term_rows(self.dictionary, terms)

    def _term_meta(self, terms: list[str]) -> dict[str, tuple[int, int, int]]:
        """term → (df, max_tf, min_dl) from the dictionary (cached)."""
        missing = [t for t in terms if t not in self._df_cache]
        if missing:
            rows = (
                self._term_entries(missing).select("term", *_META_COLS).collect()
            )
            found = {
                r["term"]: (int(r["df"]), int(r["max_tf"]), int(r["min_dl"]))
                for r in rows
            }
            for t in missing:
                self._df_cache[t] = found.get(t, (0, 0, 0))
        return {t: self._df_cache[t] for t in terms}

    def _expansion_terms(self, rows) -> list[str]:
        """Terms of an expansion scan's dictionary rows (``term`` plus
        ``_META_COLS``), whose stats go into the term-meta cache."""
        for r in rows:
            self._df_cache[r["term"]] = (
                int(r["df"]), int(r["max_tf"]), int(r["min_dl"])
            )
        return [r["term"] for r in rows]

    def _term_dfs(self, terms: list[str]) -> dict[str, int]:
        return {t: m[0] for t, m in self._term_meta(terms).items()}

    def _scorer_partitions(self, meta: dict[str, tuple[int, int, int]]) -> int:
        """Task count for a range-grouped scorer stage, sized from the
        QUERIED TERMS' block count (df is already in hand from the
        dictionary) instead of the session-wide shuffle setting.

        The session's ``spark.sql.shuffle.partitions`` is sized for the
        BUILD's occurrence volume; a query's scorer stage only carries the
        query terms' posting blocks — often orders of magnitude less. Each
        scorer task has a fixed cost (Arrow stream setup, Python worker
        round trip), so running a rare-term query through hundreds of
        near-empty tasks is pure overhead — measured: hot-term scorers at
        sf0.1 are ~25-35% faster at 16-26 tasks than at the session's 64,
        and at 2 pinned cores a 256-task stage inflated q_p95 4x. AQE's
        partition coalescing used to paper over this at the price of a
        driver re-plan round per query (see session.py); deriving the
        count from the dictionary stats is exact, free, and works at any
        scale. Bounds: a task should carry at least ~64 blocks before
        extra slots pay for themselves, at most ~512 before losing
        parallelism; never exceed the session setting (the data-sized
        global ceiling) nor the corpus's RANGE COUNT (more tasks than
        ranges can only produce empty ones — the group key has at most
        ~n_docs/2^range_bits distinct values)."""
        nparts = int(self.spark.conf.get("spark.sql.shuffle.partitions"))
        n_ranges = max(1, -(-max(self.n_docs, 1) // (1 << self.range_bits)))
        est = _estimated_blocks(meta)
        if est <= 0:
            return 1
        dp = self.spark.sparkContext.defaultParallelism
        want = max(-(-est // 512), min(dp, -(-est // 64)))
        return max(1, min(nparts, n_ranges, want))

    def _group_by_range(
        self,
        sel: DataFrame,
        side: DataFrame | None,
        meta: dict[str, tuple[int, int, int]],
    ):
        """(left, side) groupings for a per-range scorer: both inputs are
        explicitly repartitioned by ``range_id`` to the data-sized task
        count (``_scorer_partitions``), which the following
        ``groupBy("range_id")`` reuses (hash partitioning on the group key
        satisfies the grouped/cogrouped distribution requirement — ONE
        exchange, exactly as before, at the right width). Per-range
        results are partition-assignment-independent, so scores, ranks
        and the blocks_skipped accumulator are unchanged."""
        n = self._scorer_partitions(meta)
        left = sel.repartition(n, F.col("range_id")).groupBy("range_id")
        if side is None:
            return left, None
        return left, side.repartition(n, F.col("range_id")).groupBy("range_id")

    def _run_range_scorer(
        self,
        kernel,
        blocks: DataFrame,
        meta: dict[str, tuple[int, int, int]],
        k: int | None = None,
        allowed: DataFrame | None = None,
        excluded: DataFrame | None = None,
        skip_acc=None,
        positions: bool = False,
        label: str = "scorer",
    ) -> DataFrame:
        """The per-range scorer chassis: the one masking, skip-count and
        merge path behind every block-max scorer mode, over two
        transports.

        ``kernel(base, pdf, C) -> (result pdf, skipped)`` scores ONE doc
        range: ``base`` is the range's first doc_id, ``pdf`` its posting
        blocks (``_SCORE_COLS``, plus ``pos_bytes`` with ``positions``)
        and ``C`` the range's live bitmap — tombstoned and ``excluded``
        docs cleared, restricted to ``allowed`` — or ``None`` when every
        doc is live. A kernel never returns a doc outside ``C`` and
        reports the blocks (or position streams) it skipped undecoded.

        Per range the chassis decodes the side rows into ``C``, returns
        empty without calling the kernel when the range holds no block or
        no allowed doc, and adds the kernel's skip count to ``skip_acc``
        once. With ``k`` the per-range rows merge in (score desc, doc_id
        asc) order and the first ``k`` are returned; ``k=None`` returns
        every row.

        Transport, chosen from the query terms' estimated block count
        (``_estimated_blocks(meta)``):

        * **local** — below ``self._local_max_blocks`` and with no side
          frame: the pruned blocks are collected over Arrow
          (``toPandas``), every range's kernel runs on the driver and the
          merged rows come back as a ``LocalRelation`` DataFrame. A
          Python-UDF stage's fixed cost is several times a few hundred
          blocks' kernel time.
        * **distributed** — otherwise: the blocks are grouped by doc range
          (``_group_by_range``) into ``applyInPandas`` and, when a side
          frame exists (``_side_frame``: tombstone table, allow- and
          deny-lists), cogrouped with each range's side rows — neither
          set ever leaves the cluster, vs collecting a Python set, which
          caps at ~10^6 entries. With ``k`` the merge is the global
          TakeOrderedAndProject.

        ``label`` names the Spark jobs the chassis launches itself (the
        local route's block collect): ``<label> k=… terms=… route=local``.
        """
        side_df = self._side_frame(allowed, excluded)
        cols = [*_SCORE_COLS, "pos_bytes"] if positions else _SCORE_COLS
        # closure state only — the UDF must not capture self (SparkSession)
        range_bits = self.range_bits
        range_size = 1 << range_bits
        allowed_present = allowed is not None

        def cg(key: tuple, pdf: pd.DataFrame, side) -> pd.DataFrame:
            if len(pdf) == 0:
                return _empty_topk_pdf()
            base = int(key[0]) << range_bits
            C = None
            if side is not None:
                # side rows of this range: dead (kind=0) ∪ allowed (kind=1)
                if allowed_present:
                    allow = side.loc[side["kind"] == 1, "doc_id"].to_numpy(
                        np.int64
                    )
                    if not len(allow):
                        return _empty_topk_pdf()  # nothing allowed here
                    C = np.zeros(range_size, dtype=bool)
                    C[allow - base] = True
                local = (
                    side.loc[side["kind"] == 0, "doc_id"].to_numpy(np.int64)
                    - base
                )
                local = local[(local >= 0) & (local < range_size)]
                if len(local):
                    if C is None:
                        C = np.ones(range_size, dtype=bool)
                    C[local] = False
            out, skipped = kernel(base, pdf, C)
            if skip_acc is not None and skipped:
                skip_acc.add(skipped)
            return out

        def plain(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
            return cg(key, pdf, None)

        if side_df is None and _estimated_blocks(meta) < self._local_max_blocks:
            with _job_description(
                self.spark,
                f"{label} k={k} terms={len(meta)} route=local",
            ):
                pdf = blocks.select(*cols).toPandas()
                outs = [
                    plain((rid,), g.reset_index(drop=True))
                    for rid, g in pdf.groupby("range_id", sort=True)
                ]
                rows = (
                    pd.concat(outs, ignore_index=True) if outs
                    else _empty_topk_pdf()
                )
                if k is not None:
                    rows = rows.sort_values(
                        ["score", "doc_id"], ascending=[False, True],
                        kind="stable",
                    ).head(k)
                return self.spark.createDataFrame(rows, TOPK_SCHEMA)

        grouped, side_g = self._group_by_range(
            blocks.select(*cols), side_df, meta
        )
        if side_g is None:
            local = grouped.applyInPandas(plain, TOPK_SCHEMA)
        else:
            local = grouped.cogroup(side_g).applyInPandas(cg, TOPK_SCHEMA)
        if k is None:
            return local
        return local.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)

    def _plan(
        self, query_text: str
    ) -> tuple[dict[str, float], DataFrame, dict[str, tuple[int, int, int]]] | None:
        """Analyze query (shared tokenizer), fetch idfs, prune block scan."""
        terms = sorted(set(self._tok(query_text)))
        if not terms:
            return None
        meta = self._term_meta(terms)
        idfs = {
            t: lucene_idf(self.n_docs, m[0]) for t, m in meta.items() if m[0] > 0
        }
        if not idfs:
            return None
        return idfs, self._term_blocks(list(idfs)), meta

    def _seed_theta0(
        self,
        idfs: dict[str, float],
        meta: dict[str, tuple[int, int, int]],
        blocks: DataFrame,
        k: int,
        avgdls: dict[str, float] | None = None,
        cursor: tuple[float, int] | None = None,
    ) -> float:
        """Global θ₀ seed: a provable lower bound on the corpus kth-best
        final score, computed BEFORE range scoring so every doc range can
        prune from its very first block (without it, θ starts at 0 per
        range and each range fully decodes its leading blocks first).

        Method: pick the term whose best block could hold the largest
        single-term contributions (max idf·tf_norm(max_tf, min_dl)), fetch
        its ⌈k/BLOCK_SIZE⌉+1 highest-upper-bound blocks (a tiny
        TakeOrderedAndProject over the term-pruned metadata scan), decode
        them driver-side and take the kth-largest single-term partial
        score over live docs. Partial scores are lower bounds on final
        scores (every BM25 term contribution is ≥ 0) and the decoded docs
        are real, distinct, live docs — so ≥ k docs have final ≥ θ₀ and no
        doc scoring < θ₀ can enter the global top-k. Exactness is
        preserved by construction.

        Liveness of probed docs: the ≤ ~k·2 probed doc_ids are
        semi-joined against the ``deleted_df`` tombstone table in ONE tiny
        Spark job (collecting only probed∩deleted, which is at most
        nprobe·BLOCK_SIZE rows) — so the seed survives upserts
        and a 10^12-doc index with one tombstone still prunes every doc
        range from its first block (round-2 verdict item 1).

        Skipped (returns 0.0) when the estimated decode volume is below
        ``probe_min_blocks`` (probe job would cost more than it saves).
        """
        if _estimated_blocks(meta) < self.probe_min_blocks:
            return 0.0
        one = lambda v: np.array([v], dtype=np.float64)  # noqa: E731
        adl_of = (
            (lambda t: avgdls.get(t, self.avgdl))
            if avgdls
            else (lambda t: self.avgdl)
        )
        t_star = max(
            idfs,
            key=lambda t: idfs[t]
            * float(codec.tf_norm(one(meta[t][1]), one(meta[t][2]), adl_of(t))[0]),
        )
        adl_star = adl_of(t_star)
        nprobe = -(-k // codec.BLOCK_SIZE) + 1
        ub = F.col("max_tf") * (codec.K1 + 1.0) / (
            F.col("max_tf")
            + codec.K1
            * (1.0 - codec.B + codec.B * F.col("min_dl") / F.lit(adl_star))
        )
        rows = (
            blocks.where(F.col("term") == t_star)
            .orderBy(ub.desc())
            .limit(nprobe)
            .select("doc_bytes", "tf_bytes", "dl_bytes")
            .collect()
        )
        decoded = []
        for r in rows:
            ids, tfs = codec.unpack_block(r["doc_bytes"], r["tf_bytes"])
            dls = codec.varbyte_decode(r["dl_bytes"])
            decoded.append((ids, tfs, dls))
        dead = None
        if self.deleted_df is not None and decoded:
            # one tiny job: which of the ≤ nprobe·BLOCK_SIZE probed docs
            # are tombstoned? The PROBE side is broadcast (a few hundred
            # rows) and the tombstone table streams past it — never the
            # other way around, which at 10^9 tombstones would shuffle
            # the whole table to semi-join ~300 rows.
            probed = np.unique(np.concatenate([d[0] for d in decoded]))
            probe_df = self.spark.createDataFrame(
                [(int(i),) for i in probed], "doc_id long"
            )
            dead_rows = (
                self.deleted_df.select("doc_id")
                .join(F.broadcast(probe_df), "doc_id", "left_semi")
                .collect()
            )
            if dead_rows:
                dead = np.fromiter(
                    (r["doc_id"] for r in dead_rows), dtype=np.int64
                )
        partials = []
        for ids, tfs, dls in decoded:
            if dead is not None:
                live = ~np.isin(ids, dead)
                tfs, dls = tfs[live], dls[live]
            if len(tfs):
                partials.append(idfs[t_star] * codec.tf_norm(tfs, dls, adl_star))
        if not partials:
            return 0.0
        allp = np.concatenate(partials)
        if cursor is not None:
            # search_after seed: only docs PROVABLY below the cursor may
            # hold θ₀ — probe partial + Σ other terms' corpus-wide upper
            # bounds < after_score ⇒ final < after_score ⇒ eligible
            rest_ub = sum(
                idfs[t]
                * float(codec.tf_norm(one(meta[t][1]), one(meta[t][2]), adl_of(t))[0])
                for t in idfs
                if t != t_star
            )
            allp = allp[allp + rest_ub < cursor[0]]
        if len(allp) < k:
            return 0.0
        return float(np.partition(allp, -k)[-k])

    # ---------------- reference (DataFrame) path ----------------

    def _bm25_scored(
        self,
        flat: DataFrame,
        idfs: dict[str, float],
        require_n: int | None = None,
        min_match: int | None = None,
        keep_match_count: bool = False,
    ) -> DataFrame:
        """Shared disjunctive BM25 aggregation over decoded flat postings
        (doc_id, term, tf, dl): idf broadcast join → per-term contrib →
        one groupBy(doc_id) sum. ``require_n`` adds the conjunctive
        match-all predicate (count of matched terms == n), ``min_match``
        the ES ``minimum_should_match`` predicate (count >= m) — both on
        the SAME aggregation — the one pipeline behind topk_dataframe /
        topk_and / topk_filtered / topk_msm_dataframe, so the score
        expression exists exactly once."""
        idf_df = F.broadcast(
            self.spark.createDataFrame(
                sorted(idfs.items()), "term string, idf double"
            )
        )
        contrib = (
            F.col("idf")
            * F.col("tf")
            * (codec.K1 + 1.0)
            / (
                F.col("tf")
                + codec.K1
                * (1.0 - codec.B + codec.B * F.col("dl") / F.lit(self.avgdl))
            )
        )
        grouped = flat.join(idf_df, "term").withColumn("contrib", contrib).groupBy(
            "doc_id"
        )
        if require_n is None and min_match is None:
            if keep_match_count:  # (doc_id, score, _nt) — terms_set gate
                return grouped.agg(
                    F.sum("contrib").alias("score"),
                    F.count("*").alias("_nt"),
                )
            return grouped.agg(F.sum("contrib").alias("score"))
        pred = (
            (F.col("_nt") == require_n)
            if require_n is not None
            else (F.col("_nt") >= min_match)
        )
        return (
            grouped.agg(
                F.sum("contrib").alias("score"), F.count("*").alias("_nt")
            )
            .where(pred)
            .drop("_nt")
        )

    def topk_dataframe(
        self,
        query_text: str,
        k: int = 10,
        boosts: dict[str, float] | None = None,
    ) -> DataFrame:
        plan = self._plan(query_text)
        if plan is None:
            return _empty_topk(self.spark)
        idfs, blocks, _ = plan
        idfs = _fold_boosts(idfs, boosts)  # ES query-time boost
        scored = self._bm25_scored(
            self._mask(flat_postings(blocks)), idfs
        )
        return scored.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)

    # ---------------- block-max fast path ----------------

    def _side_frame(
        self,
        allowed: DataFrame | None,
        excluded: DataFrame | None = None,
    ) -> DataFrame | None:
        """Per-range side input for the cogrouped scorers: tombstoned
        doc_ids (kind=0) unioned with the allow-list (kind=1), each keyed
        by doc range. All sets stay distributed — the ES analogue is
        running bool filters *inside* WAND instead of post-filtering, and
        at 10^12 docs none of them can ever be driver-side.

        ``excluded`` (ES bool ``must_not``): a doc excluded by a negative
        clause masks EXACTLY like a tombstone — it must never score, never
        hold θ, and blocks whose whole span is excluded must skip
        undecoded — so the must_not set rides the same kind=0 stream and
        every scorer supports it with zero new code."""
        parts = []
        if self.deleted_df is not None:
            parts.append(
                self.deleted_df.select("doc_id", F.lit(0).alias("kind"))
            )
        if excluded is not None:
            parts.append(
                excluded.select("doc_id", F.lit(0).alias("kind"))
            )
        if allowed is not None:
            parts.append(
                allowed.select("doc_id", F.lit(1).alias("kind"))
            )
        if not parts:
            return None
        side = parts[0]
        for p in parts[1:]:
            side = side.unionByName(p)
        return side.select(
            "doc_id",
            F.shiftright("doc_id", self.range_bits).alias("range_id"),
            "kind",
        )

    def topk_blockmax(
        self,
        query_text: str,
        k: int = 10,
        skip_acc=None,
        allowed: DataFrame | None = None,
        excluded: DataFrame | None = None,
        boosts: dict[str, float] | None = None,
    ) -> DataFrame:
        """``skip_acc``: optional SparkContext accumulator incremented by the
        number of posting blocks the scorer proved sub-θ and never decoded
        (pruning observability; used by tests and bench).

        ``allowed``: optional doc_id allow-list (ES bool-filter analogue)
        enforced INSIDE the block-max scorer: the list is cogrouped per doc
        range alongside the tombstones and masked at block-decode time, so
        blocks whose doc span contains no allowed doc are skipped without
        decoding and θ is maintained over the allowed set only (partial
        sums of allowed docs remain lower bounds on allowed finals —
        exactness preserved). Results are score-identical to
        ``topk_filtered``; a selective filter prunes most of a hot term's
        blocks instead of decoding them.

        ``excluded``: optional doc_id deny-list (ES bool ``must_not``) —
        excluded docs mask exactly like tombstones (kind-0 side rows):
        never scored, never hold θ, whole-span-excluded blocks skip
        undecoded. Composes freely with ``allowed`` (ES bool with both
        ``filter`` and ``must_not``); since any query in this engine
        returns a doc_id frame, the negative clause can itself be another
        query's match set.

        ``boosts``: optional per-term multiplier (ES query-time ``boost``
        on a clause: the clause's score is multiplied — Lucene
        BoostQuery). Folded into the effective idf BEFORE planning, so
        every downstream bound stays exact: the θ₀ seed, the per-term
        upper bounds U_t and the partial-score lower bounds all scale
        with the boosted idf. Boosts must be ≥ 0; unlisted terms default
        to 1.0."""
        plan = self._plan(query_text)
        if plan is None:
            return _empty_topk(self.spark)
        idfs, blocks, meta = plan
        idfs = _fold_boosts(idfs, boosts)
        # θ₀ seed probes the best blocks corpus-wide; a probed doc outside
        # the allow-list (or inside the deny-list) would make the seed
        # invalid, so filtered/negated queries start unseeded (per-range θ
        # still prunes)
        theta0 = (
            0.0 if allowed is not None or excluded is not None
            else self._seed_theta0(idfs, meta, blocks, k)
        )
        return self._run_range_scorer(
            _make_range_scorer(
                idfs, self.avgdl, k, self.range_bits, theta0=theta0
            ),
            blocks, meta, k, allowed, excluded, skip_acc,
            label="topk_blockmax",
        )

    def topk_dismax(
        self,
        query_text: str,
        k: int = 10,
        tie_breaker: float = 0.0,
        skip_acc=None,
        allowed: DataFrame | None = None,
        excluded: DataFrame | None = None,
    ) -> DataFrame:
        """ES ``dis_max`` over the query's term clauses (Lucene
        DisjunctionMaxQuery): a doc scores its BEST clause plus
        ``tie_breaker`` × the remaining clauses —
        ``max_t c_t + tb · (Σ c_t − max_t c_t)``; ``tie_breaker=0`` is
        pure best-of, ``1.0`` degenerates to the plain BM25 sum.

        Same block-max machinery as ``topk_blockmax`` with a per-doc
        best-clause tracker: θ is maintained over dis_max partials
        (``mx·(1−tb) + tb·total`` — a valid lower bound on any final,
        since the combine is increasing in both arguments for tb ≤ 1)
        while block-skip tests keep the SUM-based upper bound (final
        dis_max ≤ final sum) — exactness preserved. The θ₀ seed stays
        valid too: a probed doc's final dis_max is ≥ its best single-term
        partial. Composes with ``allowed``/``excluded``."""
        if not 0.0 <= tie_breaker <= 1.0:
            raise ValueError(
                f"tie_breaker must be in [0, 1], got {tie_breaker}"
            )
        plan = self._plan(query_text)
        if plan is None:
            return _empty_topk(self.spark)
        idfs, blocks, meta = plan
        theta0 = (
            0.0 if allowed is not None or excluded is not None
            else self._seed_theta0(idfs, meta, blocks, k)
        )
        return self._run_range_scorer(
            _make_range_scorer(
                idfs, self.avgdl, k, self.range_bits, theta0=theta0,
                tie_breaker=float(tie_breaker),
            ),
            blocks, meta, k, allowed, excluded, skip_acc,
            label="topk_dismax",
        )

    def topk_dismax_dataframe(
        self, query_text: str, k: int = 10, tie_breaker: float = 0.0
    ) -> DataFrame:
        """Pure-DataFrame reference twin of ``topk_dismax`` (score- and
        rank-identical; test-asserted): per-term BM25 contributions
        aggregated as ``max + tb·(sum − max)`` in one groupBy."""
        if not 0.0 <= tie_breaker <= 1.0:
            raise ValueError(
                f"tie_breaker must be in [0, 1], got {tie_breaker}"
            )
        plan = self._plan(query_text)
        if plan is None:
            return _empty_topk(self.spark)
        idfs, blocks, _ = plan
        flat = self._mask(flat_postings(blocks))
        # per (doc, term) contribution rows, then one aggregation
        per = flat.select(
            "doc_id",
            "term",
            (
                F.col("tf").cast("double")
                * (codec.K1 + 1.0)
                / (
                    F.col("tf").cast("double")
                    + codec.K1
                    * (
                        1.0
                        - codec.B
                        + codec.B * F.col("dl") / F.lit(self.avgdl)
                    )
                )
            ).alias("_norm"),
        )
        idf_map = F.create_map(
            *[x for t in sorted(idfs) for x in (F.lit(t), F.lit(idfs[t]))]
        )
        per = per.select(
            "doc_id", (idf_map[F.col("term")] * F.col("_norm")).alias("_c")
        )
        agg = per.groupBy("doc_id").agg(
            F.max("_c").alias("_mx"), F.sum("_c").alias("_sum")
        )
        scored = agg.select(
            "doc_id",
            (
                F.col("_mx") * F.lit(1.0 - tie_breaker)
                + F.lit(float(tie_breaker)) * F.col("_sum")
            ).alias("score"),
        )
        return scored.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)

    # ---------------- multi-field search (ES multi_match) ----------------

    def _plan_multimatch(
        self,
        query_text: str,
        fields: dict[str, float],
        default_field: str,
    ) -> tuple | None:
        """Shared multi_match planning: expand the analyzed query tokens to
        per-field term keys (``<field>:<token>``; the default field stays
        unprefixed — build.py's multi-field contract), fetch per-key df
        from the one dictionary (a prefixed key's df IS its per-field df),
        compute per-clause idf from the FIELD's doc_count and fold the
        per-field boost, and map each clause to its field's avgdl and
        clause group. Returns (idfs, avgdls, groups, blocks, meta)."""
        from .build import field_term

        if not fields:
            raise ValueError("fields must be non-empty")
        if self.field_stats is None:
            raise ValueError(
                "multi_match needs a multi-field index — build with "
                "build_index_multifield and pass its field_stats to Searcher"
            )
        bad = {f: b for f, b in fields.items() if float(b) < 0}
        if bad:
            raise ValueError(f"field boosts must be >= 0, got {bad}")
        unknown = sorted(set(fields) - set(self.field_stats))
        if unknown:
            raise ValueError(
                f"unknown fields {unknown}; index has {sorted(self.field_stats)}"
            )
        tokens = sorted(set(self._tok(query_text)))
        if not tokens:
            return None
        pterm_of: dict[str, tuple[int, str]] = {}
        for gi, f in enumerate(sorted(fields)):
            for tok in tokens:
                pterm_of[field_term(f, tok, default_field)] = (gi, f)
        meta = self._term_meta(sorted(pterm_of))
        idfs: dict[str, float] = {}
        avgdls: dict[str, float] = {}
        groups: dict[str, int] = {}
        for pt, (gi, f) in pterm_of.items():
            df = meta[pt][0]
            if df <= 0:
                continue
            n_f, avgdl_f = self.field_stats[f]
            idfs[pt] = float(fields[f]) * lucene_idf(n_f, df)
            avgdls[pt] = avgdl_f
            groups[pt] = gi
        if not idfs:
            return None
        blocks = self._term_blocks(list(idfs))
        return idfs, avgdls, groups, blocks, {t: meta[t] for t in idfs}

    def topk_multimatch(
        self,
        query_text: str,
        fields: dict[str, float],
        k: int = 10,
        mode: str = "best_fields",
        tie_breaker: float = 0.0,
        allowed: DataFrame | None = None,
        excluded: DataFrame | None = None,
        skip_acc=None,
        default_field: str | None = None,
    ) -> DataFrame:
        """ES ``multi_match`` over a multi-field index
        (``build_index_multifield``): per-field BM25 with the FIELD's df /
        doc_count / avgdl (Lucene per-field statistics) and a per-field
        ``boost`` multiplier, combined per doc as

        * ``best_fields`` (ES default) — dis_max over the per-field match
          sums: ``max_f s_f + tie_breaker · (Σ_f s_f − max_f s_f)``;
        * ``most_fields`` — the plain sum ``Σ_f s_f``.

        One block-max scan serves both: every (field, token) clause is one
        term key of the shared index, so the scorer runs the SAME exact
        MaxScore kernel with per-clause idf/avgdl — best_fields adds the
        group tracker (θ over group-dismax partials, SUM upper bound for
        skips; exactness per ``_make_range_scorer``). The θ₀ seed stays
        valid: any probed single-clause partial lower-bounds its field sum,
        which lower-bounds both combines. Composes with
        ``allowed``/``excluded`` like every other mode."""
        from .build import DEFAULT_FIELD

        if mode not in ("best_fields", "most_fields"):
            raise ValueError(
                f"mode must be best_fields|most_fields, got {mode!r}"
            )
        if not 0.0 <= tie_breaker <= 1.0:
            raise ValueError(f"tie_breaker must be in [0, 1], got {tie_breaker}")
        plan = self._plan_multimatch(
            query_text, fields, default_field or DEFAULT_FIELD
        )
        if plan is None:
            return _empty_topk(self.spark)
        idfs, avgdls, groups, blocks, meta = plan
        theta0 = (
            0.0 if allowed is not None or excluded is not None
            else self._seed_theta0(idfs, meta, blocks, k, avgdls=avgdls)
        )
        tb = float(tie_breaker) if mode == "best_fields" else None
        return self._run_range_scorer(
            _make_range_scorer(
                idfs, self.avgdl, k, self.range_bits, theta0=theta0,
                tie_breaker=tb, avgdls=avgdls,
                groups=groups if tb is not None else None,
            ),
            blocks, meta, k, allowed, excluded, skip_acc,
            label="topk_multimatch",
        )

    def topk_multimatch_dataframe(
        self,
        query_text: str,
        fields: dict[str, float],
        k: int = 10,
        mode: str = "best_fields",
        tie_breaker: float = 0.0,
        default_field: str | None = None,
    ) -> DataFrame:
        """Pure-DataFrame reference twin of ``topk_multimatch`` (score- and
        rank-identical; test-asserted): decode the clause postings flat,
        join the broadcast (term → idf, field avgdl, field group) map, sum
        per (doc, field), then combine per doc."""
        from .build import DEFAULT_FIELD

        if mode not in ("best_fields", "most_fields"):
            raise ValueError(
                f"mode must be best_fields|most_fields, got {mode!r}"
            )
        if not 0.0 <= tie_breaker <= 1.0:
            raise ValueError(f"tie_breaker must be in [0, 1], got {tie_breaker}")
        plan = self._plan_multimatch(
            query_text, fields, default_field or DEFAULT_FIELD
        )
        if plan is None:
            return _empty_topk(self.spark)
        idfs, avgdls, groups, blocks, _ = plan
        flat = self._mask(flat_postings(blocks))
        tmap = F.broadcast(
            self.spark.createDataFrame(
                [(t, idfs[t], avgdls[t], groups[t]) for t in sorted(idfs)],
                "term string, idf double, adl double, grp int",
            )
        )
        contrib = (
            F.col("idf")
            * F.col("tf")
            * (codec.K1 + 1.0)
            / (
                F.col("tf")
                + codec.K1
                * (1.0 - codec.B + codec.B * F.col("dl") / F.col("adl"))
            )
        )
        per_field = (
            flat.join(tmap, "term")
            .withColumn("_c", contrib)
            .groupBy("doc_id", "grp")
            .agg(F.sum("_c").alias("_fs"))
        )
        agg = per_field.groupBy("doc_id").agg(
            F.max("_fs").alias("_mx"), F.sum("_fs").alias("_sum")
        )
        if mode == "most_fields":
            scored = agg.select("doc_id", F.col("_sum").alias("score"))
        else:
            scored = agg.select(
                "doc_id",
                (
                    F.col("_mx") * F.lit(1.0 - tie_breaker)
                    + F.lit(float(tie_breaker)) * F.col("_sum")
                ).alias("score"),
            )
        return scored.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)

    def topk_blockmax_and(
        self,
        query_text: str,
        k: int = 10,
        skip_acc=None,
        allowed: DataFrame | None = None,
        excluded: DataFrame | None = None,
    ) -> DataFrame:
        """Conjunctive (ES ``match`` operator:and) top-k through the
        block-pruned scorer — score-identical to ``topk_and`` but never
        decode-everything (round-3 verdict item 3; ES runs conjunctions
        inside WAND).

        Pruning is candidate-driven (the leapfrog-intersection shape), not
        θ-driven: a partial disjunctive score is NOT a lower bound on any
        conjunctive doc's final score, so θ would be unsound here. Instead:

        * scan level — every term's blocks are semi-joined on the RAREST
          term's block ranges (metadata-only: no byte columns read), so a
          hot term's blocks in ranges the rare term never touches are
          pruned before the shuffle;
        * range level — a range missing any required term returns empty
          without decoding a single block;
        * block level — terms are processed in global-df-ascending order;
          after the rarest term decodes, a candidate bitmap C bounds all
          later work: blocks whose doc span misses C are skipped
          undecoded, decoded rows are masked to C, and C intersects down
          after each term. Exact by conjunctive semantics: a doc dropped
          from C lacks some required term and can never be returned.

        ``allowed`` composes the bool-filter: C starts as the allow set.
        """
        plan = self._plan(query_text)
        if plan is None:
            return _empty_topk(self.spark)
        idfs, blocks, meta = plan  # one dictionary fetch serves both
        terms = sorted(meta)
        if any(m[0] == 0 for m in meta.values()):
            return _empty_topk(self.spark)  # a required term matches nothing
        # df-ascending processing order (ties: term) — deterministic
        order = sorted(terms, key=lambda t: (meta[t][0], t))
        return self._run_range_scorer(
            _make_conjunctive_range_scorer(
                idfs, self.avgdl, k, self.range_bits, order
            ),
            self._in_rare_ranges(blocks, order[:1], len(order)),
            meta, k, allowed, excluded, skip_acc,
            label="topk_blockmax_and",
        )

    def topk_msm(
        self,
        query_text: str,
        k: int = 10,
        msm: int | str = 1,
        allowed: DataFrame | None = None,
        skip_acc=None,
        excluded: DataFrame | None = None,
    ) -> DataFrame:
        """``minimum_should_match`` top-k through the block-pruned scorer
        — the engine default for msm queries, score-identical to
        ``topk_msm_dataframe`` (see its docstring for the ES contract).
        ``msm=1`` delegates to the θ-pruned disjunctive ``topk_blockmax``;
        ``msm=n_terms`` delegates to the candidate-driven
        ``topk_blockmax_and``; in between, pruning is the Lucene
        optional/mandatory split generalized to counting:

        * range level — a range holding fewer than ``msm`` distinct query
          terms can't produce a match: pruned by a metadata-only
          countDistinct semi-join before the shuffle, and re-checked per
          range before any decode;
        * block level — terms are processed in global-df-ascending order
          with match-counts per doc; a doc first seen at term index ``i``
          (0-based) can match at most ``n - i`` terms, so once
          ``i > n - msm`` no NEW doc can reach the requirement and blocks
          whose span misses the still-viable candidate set are skipped
          undecoded; the viable set tightens after every term
          (``count_so_far + terms_left >= msm``).

        Exact: a doc dropped from the viable set provably can't match
        ``msm`` terms; scores accumulate over ALL matched terms of the
        surviving docs (full BM25 sums). ``allowed`` composes the
        bool-filter: viability starts from the allow/tombstone masks.

        ``msm`` accepts every ES spec form — int, negative int, ``"75%"``,
        ``"-25%"``, conditionals ``"3<90%"`` — resolved against the
        DISTINCT query-term count (absent terms included: they are
        unmatchable clauses that still count toward the requirement, the
        ES contract) via ``parse_min_should_match``.
        """
        if isinstance(msm, str) or msm < 0:
            msm = parse_min_should_match(
                msm, len(set(self._tok(query_text)))
            )
        if msm < 1:
            raise ValueError(f"msm must be >= 1, got {msm}")
        plan = self._plan(query_text)
        if plan is None:
            return _empty_topk(self.spark)
        idfs, blocks, meta = plan  # one dictionary fetch serves both
        n = len(idfs)
        if n < msm:
            return _empty_topk(self.spark)
        if msm == 1:
            return self.topk_blockmax(
                query_text, k, skip_acc=skip_acc, allowed=allowed,
                excluded=excluded,
            )
        # delegate to the conjunctive scorer only when every query term is
        # present: with an absent (df=0) term, operator:and returns empty
        # but msm == n_present must still match on the present terms
        if msm == n and n == len(set(self._tok(query_text))):
            return self.topk_blockmax_and(
                query_text, k, skip_acc=skip_acc, allowed=allowed,
                excluded=excluded,
            )
        order = sorted(idfs, key=lambda t: (meta[t][0], t))
        # range-level prune: metadata-only countDistinct over the already
        # term/bucket-pruned block scan — no byte columns read
        viable_ranges = (
            blocks.groupBy("range_id")
            .agg(F.countDistinct("term").alias("_nt"))
            .where(F.col("_nt") >= msm)
            .select("range_id")
        )
        blocks = blocks.join(viable_ranges, "range_id", "left_semi")
        return self._run_range_scorer(
            _make_msm_range_scorer(
                idfs, self.avgdl, k, self.range_bits, order, msm
            ),
            blocks, meta, k, allowed, excluded, skip_acc,
            label="topk_msm",
        )

    def topk_terms_set(
        self,
        terms: list[str],
        attrs: DataFrame,
        minimum_should_match_field: str,
        k: int = 10,
    ) -> DataFrame:
        """ES ``terms_set`` query: match docs containing at least M of the
        given terms where M is read from a PER-DOCUMENT field
        (``minimum_should_match_field``) — the "required skills" query
        (each job posting stores how many of its listed skills are
        mandatory). The per-doc gate is what distinguishes it from
        ``minimum_should_match``'s single global M.

        Semantics (Lucene CoveringQuery shape): candidate docs are the
        union iteration (≥1 term present); a candidate matches when its
        matched-term count ≥ max(1, its field value) — the max(1,·)
        clamp reflects that CoveringQuery never surfaces zero-term docs;
        docs missing the field never match (inner join; ES docs advise a
        default value at index time). Score = sum of matched terms' BM25
        (bool/should scoring). Terms are TERM-level (not analyzed) like
        ES — pass analyzer-space tokens.

        Plan shape: ONE term-pruned decode + ONE aggregation keeping the
        per-doc matched-term count (the same single pipeline as
        ``topk_msm_dataframe``) + ONE join against the attr frame with
        the gate as a codegen predicate — the per-doc M never alters the
        scan, so this costs exactly one join more than a plain match.
        Replaces the reference's delegation of terms_set to ES 7.9.1."""
        uniq = sorted(set(terms))
        if not uniq:
            raise ValueError("terms_set needs at least one term")
        self._attr_col(attrs, minimum_should_match_field)
        meta = self._term_meta(uniq)
        idfs = {
            t: lucene_idf(self.n_docs, m[0])
            for t, m in meta.items()
            if m[0] > 0
        }
        if not idfs:
            return _empty_topk(self.spark)
        scored = self._bm25_scored(
            self._mask(flat_postings(self._term_blocks(list(idfs)))), idfs,
            keep_match_count=True,
        )
        req = attrs.where(
            F.col(minimum_should_match_field).isNotNull()
        ).select(
            "doc_id",
            F.greatest(
                F.col(minimum_should_match_field).cast("long"), F.lit(1)
            ).alias("_req"),
        )
        return (
            scored.join(req, "doc_id", "inner")
            .where(F.col("_nt") >= F.col("_req"))
            .select("doc_id", "score")
            .orderBy(F.desc("score"), F.asc("doc_id"))
            .limit(k)
        )

    # ---------------- prefix (multi-term expansion) retrieval ----------------

    def expand_prefix(
        self,
        prefix: str,
        max_expansions: int = 1024,
        truncate: bool = False,
    ) -> list[str]:
        """Lucene TermsEnum analogue: the sorted dictionary terms starting
        with ``prefix`` (which is itself analyzed and must yield exactly
        one token — analyzer-space matching, like ES on a ``text`` field).
        The scan is a column-pruned dictionary read with the StartsWith
        predicate pushed to parquet and a sorted TakeOrdered limit; no
        bucket pruning is possible (a prefix spans hash buckets by
        construction) but the dictionary is the vocabulary-sized table,
        not the postings.

        ``truncate=False`` raises past ``max_expansions`` — Lucene's
        ``too_many_clauses`` guard, which at 100 TB is what keeps a
        one-letter prefix from turning into a million-term disjunction.
        ``truncate=True`` keeps the first ``max_expansions`` terms in
        sorted order instead — ES ``match_phrase_prefix`` semantics."""
        toks = self._tok(prefix)
        if len(toks) != 1:
            raise ValueError(
                f"prefix must analyze to exactly one token, got {toks!r}"
            )
        rows = (
            self.dictionary.where(F.col("term").startswith(toks[0]))
            .select("term", *_META_COLS)
            .distinct()
            .orderBy("term")
            .limit(max_expansions + 1)
            .collect()
        )
        terms = self._expansion_terms(rows)
        if len(terms) > max_expansions:
            if not truncate:
                raise ValueError(
                    f"prefix {prefix!r} expands to more than "
                    f"{max_expansions} terms (too_many_clauses)"
                )
            terms = terms[:max_expansions]
        return terms

    def topk_prefix(
        self,
        prefix: str,
        k: int = 10,
        rewrite: str = "constant_score",
        max_expansions: int = 1024,
        allowed: DataFrame | None = None,
        skip_acc=None,
        excluded: DataFrame | None = None,
    ) -> DataFrame:
        """ES ``prefix`` query over the indexed text. ``rewrite`` follows
        Lucene's multi-term rewrite methods:

        * ``constant_score`` (the ES default): every doc containing ANY
          expansion scores 1.0; results order by doc_id (deterministic
          tie-break). The decode is the result set itself — at scale this
          shape is normally composed as a bool FILTER (pass the matching
          doc set as ``allowed`` to a scoring query) rather than ranked.
        * ``scoring_boolean``: the expansion becomes a BM25 disjunction
          (each term keeps its own idf) and runs through the θ-pruned
          ``topk_blockmax`` fast path — rank-identical to querying the
          expanded terms directly.

        Expansion happens once on the driver against the dictionary
        (``expand_prefix``), exactly Lucene's TermsEnum → BooleanQuery
        rewrite, with the same ``too_many_clauses`` bound."""
        terms = self.expand_prefix(prefix, max_expansions)
        return self._topk_expanded(terms, k, rewrite, allowed, skip_acc, excluded)

    def _topk_expanded(
        self,
        terms: list[str],
        k: int,
        rewrite: str,
        allowed: DataFrame | None,
        skip_acc=None,
        excluded: DataFrame | None = None,
    ) -> DataFrame:
        """Shared execution of an expanded multi-term query (prefix /
        fuzzy / wildcard / regexp) under a Lucene rewrite method — see
        ``topk_prefix`` for the two rewrites' contracts.

        constant_score runs the per-range early-terminating scorer
        (``_make_constscore_range_scorer``): the result is doc_id-
        ascending, so each range stops decoding after its first ``k``
        live/allowed distinct docs instead of decoding the whole
        expansion set (round-4 verdict: the one query path left with
        zero pruning). Tombstones/allow-list cogroup per range like
        every other scorer."""
        if not terms:
            return _empty_topk(self.spark)
        if rewrite == "scoring_boolean":
            # analyzer tokens re-tokenize to themselves, so the joined
            # string IS the expanded disjunction
            return self.topk_blockmax(
                " ".join(terms), k, skip_acc=skip_acc, allowed=allowed,
                excluded=excluded,
            )
        if rewrite != "constant_score":
            raise ValueError(f"unknown rewrite {rewrite!r}")
        # expand_* leave their terms' stats in the term-meta cache, so
        # this lookup launches no job for an expanded term list
        local = self._run_range_scorer(
            _make_constscore_range_scorer(k, self.range_bits),
            self._term_blocks(terms), self._term_meta(terms),
            allowed=allowed, excluded=excluded, skip_acc=skip_acc,
            label="topk_expanded",
        )
        return local.orderBy(F.asc("doc_id")).limit(k)

    def topk_match_bool_prefix(
        self,
        query_text: str,
        k: int = 10,
        max_expansions: int = 50,
        allowed: DataFrame | None = None,
        excluded: DataFrame | None = None,
        skip_acc=None,
    ) -> DataFrame:
        """ES ``match_bool_prefix`` — the search-as-you-type default: the
        analyzed query's LAST token is a prefix, earlier tokens are plain
        term clauses, all combined as a bool SHOULD. Unlike
        ``match_phrase_prefix`` there is no position constraint, so the
        whole thing rewrites to ONE BM25 disjunction over
        ``fixed terms ∪ prefix expansions`` (each expansion keeps its own
        idf — Lucene scoring_boolean semantics) and runs through the
        θ-pruned ``topk_blockmax`` fast path. The expansion is sorted and
        truncated at ``max_expansions`` WITHOUT error (the ES
        match_phrase_prefix contract; a too_many_clauses bound applies to
        the raw ``prefix`` query, not the match_* conveniences)."""
        qterms = self._tok(query_text)
        if not qterms:
            return _empty_topk(self.spark)
        fixed, last = qterms[:-1], qterms[-1]
        try:
            expansions = self.expand_prefix(last, max_expansions)
        except ValueError:
            # over the bound: keep the first max_expansions (sorted) —
            # expand with a higher cap, then truncate
            expansions = self.expand_prefix(last, 1 << 20)[:max_expansions]
        terms = sorted(set(fixed) | set(expansions))
        # corpus-absent FIXED terms are unmatchable should-clauses (drop);
        # an empty expansion with no fixed match -> empty result
        if not terms:
            return _empty_topk(self.spark)
        return self.topk_blockmax(
            " ".join(terms), k, skip_acc=skip_acc, allowed=allowed,
            excluded=excluded,
        )

    def expand_fuzzy(
        self,
        term: str,
        fuzziness: int | None = None,
        prefix_length: int = 0,
        max_expansions: int = 50,
    ) -> list[str]:
        """ES ``fuzzy`` expansion: dictionary terms within Levenshtein
        edit distance ≤ ``fuzziness`` of the (analyzed) term. Computed as
        ONE narrow JVM-codegen scan of the vocabulary table with Spark's
        built-in ``levenshtein`` — the automaton-free analogue of
        Lucene's FuzzyTermsEnum, linear in vocabulary size instead of
        sub-linear, which is the right trade for a Spark engine: the
        dictionary is the tiny table, and the scan is one column of it.
        ``prefix_length`` (ES semantics: the first N chars must match
        exactly) turns the scan into a pushed StartsWith range first.

        ``fuzziness=None`` = ES AUTO: 0 for length ≤ 2, 1 for 3-5,
        else 2. Expansions order by (distance, term) and truncate at
        ``max_expansions`` — a deterministic stand-in for ES's
        ``top_terms_blended_freqs_N`` pick (which orders by frequency;
        the deviation only matters when the neighborhood exceeds
        ``max_expansions``, and determinism is what the oracle needs)."""
        toks = self._tok(term)
        if len(toks) != 1:
            raise ValueError(
                f"fuzzy term must analyze to exactly one token, got {toks!r}"
            )
        t = toks[0]
        if fuzziness is None:
            fuzziness = 0 if len(t) <= 2 else (1 if len(t) <= 5 else 2)
        cand = self.dictionary
        if prefix_length > 0:
            cand = cand.where(F.col("term").startswith(t[:prefix_length]))
        # cheap length band before the levenshtein: |len(a)-len(b)| <= f
        cand = cand.where(
            F.abs(F.length("term") - F.lit(len(t))) <= fuzziness
        )
        rows = (
            cand.select(
                "term", *_META_COLS,
                F.levenshtein(F.col("term"), F.lit(t)).alias("_d"),
            )
            .where(F.col("_d") <= fuzziness)
            .distinct()
            .orderBy("_d", "term")
            .limit(max_expansions)
            .collect()
        )
        return self._expansion_terms(rows)

    def topk_fuzzy(
        self,
        term: str,
        k: int = 10,
        fuzziness: int | None = None,
        prefix_length: int = 0,
        rewrite: str = "constant_score",
        max_expansions: int = 50,
        allowed: DataFrame | None = None,
        skip_acc=None,
        excluded: DataFrame | None = None,
    ) -> DataFrame:
        """ES ``fuzzy`` query: the term's Levenshtein neighborhood
        (``expand_fuzzy``) under a Lucene rewrite — ``constant_score``
        (every matching doc scores 1.0) or ``scoring_boolean`` (BM25
        disjunction over the expansion, each neighbor with its own idf).
        Composes with tombstones and the bool-filter allow-list."""
        terms = self.expand_fuzzy(
            term, fuzziness, prefix_length, max_expansions
        )
        return self._topk_expanded(terms, k, rewrite, allowed, skip_acc, excluded)

    def expand_regexp(
        self, pattern: str, max_expansions: int = 1024
    ) -> list[str]:
        """ES ``regexp`` expansion (Lucene RegexpQuery): dictionary terms
        whose ENTIRE text matches the pattern — Lucene regexps are
        implicitly anchored, so the scan wraps the translated pattern in
        ``^(?:...)$`` before ONE vocabulary RLIKE scan (Spark ``rlike``
        is find()-anywhere, Java regex).

        Supported operator subset (identical syntax and semantics in
        Lucene default + Java regex + RE2, so engine and DuckDB oracle
        agree): literals, ``.``, ``?``, ``+``, ``*``, ``|``, ``(...)``,
        ``[...]`` classes, ``{n,m}`` repetition, ``\\`` escapes. Lucene
        treats ``^`` and ``$`` as LITERAL characters (anchoring is
        implicit) — they are escaped in translation. Lucene's optional
        operators (``~`` complement, ``&`` intersection, ``<n-m>``
        numeric interval, ``@`` any-string, ``#`` empty-language,
        ``\"...\"`` quoting) have no Java/RE2 equivalent and raise
        ``ValueError`` unescaped. Patterns are lowercased (vocabulary is
        analyzer-space, same convention as ``expand_wildcard``). Sorted;
        raises past ``max_expansions`` (too_many_clauses)."""
        import re as _re

        p = pattern.strip().lower()
        if not p or any(c.isspace() for c in p):
            raise ValueError(f"regexp pattern must be one token: {pattern!r}")
        out: list[str] = []
        in_class = False
        i = 0
        while i < len(p):
            c = p[i]
            if c == "\\":
                if i + 1 >= len(p):
                    raise ValueError(f"dangling escape in regexp: {pattern!r}")
                # Lucene: a backslash makes the NEXT char literal (no perl
                # classes) — re.escape keeps it literal in Java/RE2 too
                # (otherwise e.g. \d would silently become a digit class)
                out.append(_re.escape(p[i + 1]))
                i += 2
                continue
            if in_class:
                if c == "]":
                    in_class = False
                    out.append(c)
                elif c in "&[":
                    # Java-only class metasyntax: '&&' is intersection and
                    # a nested '[' opens a class union INSIDE Java classes,
                    # while Lucene and RE2 treat both as literal chars —
                    # escape so all three engines agree (round-5 ADVICE)
                    out.append("\\" + c)
                else:
                    out.append(c)
            elif c == "[":
                in_class = True
                out.append(c)
            elif c in "^$":
                out.append("\\" + c)  # Lucene literal, Java anchor
            elif c in '~&<>@#"':
                raise ValueError(
                    f"Lucene optional operator {c!r} is not supported; "
                    f"escape it with a backslash to match literally "
                    f"(pattern: {pattern!r})"
                )
            else:
                out.append(c)
            i += 1
        if in_class:
            raise ValueError(f"unterminated character class: {pattern!r}")
        java_rx = "^(?:" + "".join(out) + ")$"
        try:  # fail fast with a clean error (the subset is re-compatible)
            _re.compile(java_rx)
        except _re.error as e:
            raise ValueError(f"invalid regexp {pattern!r}: {e}") from e
        rows = (
            self.dictionary.where(F.col("term").rlike(java_rx))
            .select("term", *_META_COLS)
            .distinct()
            .orderBy("term")
            .limit(max_expansions + 1)
            .collect()
        )
        terms = self._expansion_terms(rows)
        if len(terms) > max_expansions:
            raise ValueError(
                f"regexp {pattern!r} expands to more than "
                f"{max_expansions} terms (too_many_clauses)"
            )
        return terms

    def topk_regexp(
        self,
        pattern: str,
        k: int = 10,
        rewrite: str = "constant_score",
        max_expansions: int = 1024,
        allowed: DataFrame | None = None,
        skip_acc=None,
        excluded: DataFrame | None = None,
    ) -> DataFrame:
        """ES ``regexp`` query under a Lucene rewrite (see ``topk_prefix``
        for the rewrite contracts) — the last member of the multi-term
        expansion family (prefix/fuzzy/wildcard landed in round 4)."""
        terms = self.expand_regexp(pattern, max_expansions)
        return self._topk_expanded(terms, k, rewrite, allowed, skip_acc, excluded)

    def expand_wildcard(
        self, pattern: str, max_expansions: int = 1024
    ) -> list[str]:
        """ES ``wildcard`` expansion: ``*`` = any run, ``?`` = one char,
        matched against the dictionary in analyzer space via ONE
        vocabulary scan (SQL LIKE after escaping; Lucene's WildcardQuery
        automaton analogue). A leading wildcard prevents any prefix
        pushdown — same caveat ES documents. Sorted; raises past
        ``max_expansions`` (too_many_clauses).

        Pattern normalization = the analyzer's: the analyzer is exactly
        ``lower()`` + alnum-runs (analysis.py — no NFKC anywhere, in any
        of its three provably-identical implementations), so ``.lower()``
        here IS analyzer space; Python and JVM lowercasing agree on the
        unicode shapes that could diverge (full-width Latin, accents, ß)
        — pinned by test_wildcard_unicode_pattern_normalization."""
        p = pattern.strip().lower()
        if not p or any(c.isspace() for c in p):
            raise ValueError(f"wildcard pattern must be one token: {pattern!r}")
        like = (
            p.replace("\\", "\\\\")
            .replace("%", "\\%")
            .replace("_", "\\_")
            .replace("*", "%")
            .replace("?", "_")
        )
        rows = (
            self.dictionary.where(F.col("term").like(like))
            .select("term", *_META_COLS)
            .distinct()
            .orderBy("term")
            .limit(max_expansions + 1)
            .collect()
        )
        terms = self._expansion_terms(rows)
        if len(terms) > max_expansions:
            raise ValueError(
                f"wildcard {pattern!r} expands to more than "
                f"{max_expansions} terms (too_many_clauses)"
            )
        return terms

    def topk_wildcard(
        self,
        pattern: str,
        k: int = 10,
        rewrite: str = "constant_score",
        max_expansions: int = 1024,
        allowed: DataFrame | None = None,
        skip_acc=None,
        excluded: DataFrame | None = None,
    ) -> DataFrame:
        """ES ``wildcard`` query under a Lucene rewrite (see
        ``topk_prefix`` for the rewrite contracts)."""
        terms = self.expand_wildcard(pattern, max_expansions)
        return self._topk_expanded(terms, k, rewrite, allowed, skip_acc, excluded)

    def topk_phrase_prefix(
        self,
        query_text: str,
        k: int = 10,
        max_expansions: int = 50,
        allowed: DataFrame | None = None,
        skip_acc=None,
        excluded: DataFrame | None = None,
    ) -> DataFrame:
        """ES ``match_phrase_prefix`` (the autocomplete phrase): the
        analyzed terms must occur at consecutive positions, with the LAST
        term matched as a PREFIX — expanded against the dictionary in
        sorted term order and truncated at ``max_expansions`` exactly
        like ES (a too-common prefix silently keeps the first N
        expansions, it does not error). Lucene analogue:
        MultiPhraseQuery after TermsEnum expansion.

        Scoring (Lucene MultiPhraseQuery term-stats contract):
        ``phrase_tf`` counts start positions where the fixed terms align
        and ANY expansion occupies the last slot (two expansions can
        never share a position, so matches count once), and the
        pseudo-term idf sums every fixed query position's idf PLUS every
        expansion's idf.

        Runs on the generalized multi-slot block-max range scorer
        (``_make_multiphrase_range_scorer``): pass-1 doc candidates must
        hold every fixed term AND at least one expansion (per-group
        union), pass-2 intersects per-slot position keys — the expansion
        slot is the sorted union of its members' shifted keys. Decoded
        positions never cross an executor boundary. No DataFrame twin —
        the oracle is the DuckDB LIKE-join twin (driver entry pp1) and
        the pure-Python fixture oracle in tests."""
        qterms = self._tok(query_text)
        if not qterms:
            return _empty_topk(self.spark)
        fixed = qterms[:-1]
        exps = self.expand_prefix(
            qterms[-1], max_expansions, truncate=True
        )
        if not exps:
            return _empty_topk(self.spark)
        uniq_fixed = sorted(set(fixed))
        meta = self._term_meta(sorted(set(uniq_fixed + exps)))
        if any(meta[t][0] == 0 for t in uniq_fixed):
            return _empty_topk(self.spark)
        idf_q = sum(lucene_idf(self.n_docs, meta[t][0]) for t in fixed) + sum(
            lucene_idf(self.n_docs, meta[t][0]) for t in exps
        )
        # pass-1 groups: each distinct fixed term (conjunctive), plus ONE
        # or-group of the expansions — processed in ascending total df
        groups = [[t] for t in uniq_fixed] + [sorted(exps)]
        groups.sort(key=lambda g: (sum(meta[t][0] for t in g), g[0]))
        # pass-2 slots: one per query offset; the last holds the or-set
        slots = [(i, [t]) for i, t in enumerate(fixed)]
        slots.append((len(fixed), sorted(exps)))
        blocks = self._in_rare_ranges(
            self._term_blocks(sorted(meta)), groups[0], len(groups)
        )
        return self._run_range_scorer(
            _make_multiphrase_range_scorer(
                idf_q, self.avgdl, k, self.range_bits, groups, slots
            ),
            blocks, meta, k, allowed, excluded, skip_acc, positions=True,
            label="topk_phrase_prefix",
        )

    # ---------------- boolean / filtered / phrase retrieval ----------------

    def _in_rare_ranges(
        self, blocks: DataFrame, rare: list[str], n_groups: int
    ) -> DataFrame:
        """The range prune of the conjunctive block-max modes: ``blocks``
        semi-joined to the distinct ``range_id``s of the rarest required
        term (or or-group) ``rare``, one of ``n_groups`` required groups.
        Block metadata only, read from ``rare``'s own buckets, so a hot
        term's blocks in ranges the rare group never touches drop before
        the shuffle. Lossless: a range without ``rare`` holds no match.
        With one group the blocks are returned unchanged."""
        if n_groups < 2:
            return blocks
        rare_ranges = self._term_blocks(rare).select("range_id").distinct()
        return blocks.join(rare_ranges, "range_id", "left_semi")

    def _mask(
        self,
        frame: DataFrame,
        allowed: DataFrame | None = None,
        excluded: DataFrame | None = None,
    ) -> DataFrame:
        """The live docs of a ``doc_id`` frame — the DataFrame path's
        counterpart of the chassis's live bitmap ``C``: tombstoned docs
        anti-joined away, then restricted to ``allowed`` (semi-join), then
        ``excluded`` docs anti-joined away."""
        if self.deleted_df is not None:
            frame = frame.join(
                self.deleted_df.select("doc_id"), "doc_id", "left_anti"
            )
        if allowed is not None:
            frame = frame.join(allowed.select("doc_id"), "doc_id", "left_semi")
        if excluded is not None:
            frame = frame.join(excluded.select("doc_id"), "doc_id", "left_anti")
        return frame

    def topk_and(
        self, query_text: str, k: int = 10, allowed: DataFrame | None = None
    ) -> DataFrame:
        """Conjunctive (ES ``match`` with ``operator: and``) BM25 top-k:
        only docs containing EVERY query term rank; scores are the same
        full BM25 sums as the disjunctive paths. A query term absent from
        the corpus (df = 0) makes the result empty — exactly ES's
        operator-and contract.

        Shape at scale: after the per-(term, doc) fold a doc holds one row
        per distinct matched term, so the match-all predicate is a
        ``count(*) = n_terms`` HAVING on the same single aggregation the
        disjunctive scorer runs — no extra shuffle, and Catalyst plans the
        same term-pruned bucket scan. ``allowed`` optionally composes the
        bool-filter (see ``topk_filtered``) with the conjunction."""
        terms = sorted(set(self._tok(query_text)))
        if not terms:
            return _empty_topk(self.spark)
        meta = self._term_meta(terms)
        if any(m[0] == 0 for m in meta.values()):
            return _empty_topk(self.spark)  # a required term matches nothing
        plan = self._plan(query_text)
        assert plan is not None
        idfs, blocks, _ = plan
        flat = self._mask(flat_postings(blocks), allowed)
        scored = self._bm25_scored(flat, idfs, require_n=len(terms))
        return scored.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)

    def topk_msm_dataframe(
        self,
        query_text: str,
        k: int = 10,
        msm: int | str = 1,
        allowed: DataFrame | None = None,
    ) -> DataFrame:
        """``minimum_should_match`` BM25 top-k — the pure-DataFrame
        reference twin of ``topk_msm`` (rank- and score-identical;
        test-asserted): a doc ranks when it matches at least ``msm`` of
        the query's distinct terms, scored by the full BM25 sum over the
        terms it DOES match (ES ``match`` + ``minimum_should_match``).
        ``msm=1`` is the plain disjunction; ``msm=n_terms`` is
        operator:and. Terms absent from the corpus (df=0) can never be
        matched, so a doc must match ``msm`` of the PRESENT terms — if
        fewer than ``msm`` query terms exist at all, no doc can qualify
        (ES's contract: absent optional clauses still count toward the
        requirement).

        Same single aggregation as ``topk_and`` with the HAVING relaxed
        to ``count >= msm`` — no extra shuffle. ``msm`` accepts every ES
        spec form (see ``topk_msm``)."""
        if isinstance(msm, str) or msm < 0:
            msm = parse_min_should_match(
                msm, len(set(self._tok(query_text)))
            )
        if msm < 1:
            raise ValueError(f"msm must be >= 1, got {msm}")
        plan = self._plan(query_text)
        if plan is None:
            return _empty_topk(self.spark)
        idfs, blocks, _ = plan
        if len(idfs) < msm:
            return _empty_topk(self.spark)
        flat = self._mask(flat_postings(blocks), allowed)
        scored = self._bm25_scored(flat, idfs, min_match=msm)
        return scored.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)

    def topk_filtered(
        self,
        query_text: str,
        allowed: DataFrame,
        k: int = 10,
        boosts: dict[str, float] | None = None,
    ) -> DataFrame:
        """BM25 top-k restricted to an allow-list of doc_ids (``allowed``
        must carry a ``doc_id`` column) — the ES filtered-query analogue
        (bool { must: match, filter: term }): the filter constrains the
        candidate set but never contributes to the score.

        Shape at scale: the allow-list left-semi-joins the decoded
        postings on doc_id BEFORE aggregation, so filtered-out docs never
        enter the groupBy; a selective predicate yields a small build side
        that AQE broadcasts. Derive ``allowed`` from the docs table with an
        ordinary pushed-down predicate (e.g.
        ``store.load().docs.where("role = 'user'").select("doc_id")``)."""
        plan = self._plan(query_text)
        if plan is None:
            return _empty_topk(self.spark)
        idfs, blocks, _ = plan
        idfs = _fold_boosts(idfs, boosts)
        flat = self._mask(flat_postings(blocks), allowed)
        scored = self._bm25_scored(flat, idfs)
        return scored.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)

    def topk_phrase(
        self,
        query_text: str,
        k: int = 10,
        allowed: DataFrame | None = None,
        skip_acc=None,
        slop: int = 0,
        excluded: DataFrame | None = None,
        field: str | None = None,
    ) -> DataFrame:
        """Exact phrase top-k (ES ``match_phrase``) — the block-max
        positional path and the engine default. Semantics and scores are
        identical to ``topk_phrase_dataframe`` (the reference twin; see
        its docstring for the Lucene PhraseQuery contract); this path
        groups the COMPRESSED blocks by doc range and runs the two-pass
        leapfrog scorer (``_make_phrase_range_scorer``): doc-level
        intersection on the cheap streams first, position decode only for
        blocks that still hold candidates — decoded positions never cross
        an executor boundary, so a hot×hot phrase ("new york") costs one
        compressed-block shuffle instead of a decoded-position shuffle at
        ANY document frequency.

        Block pruning before the shuffle: every term's blocks semi-join
        the RAREST term's distinct range_ids — pure block metadata, no
        decode. Tombstones and ``allowed`` (the ES bool-filter analogue)
        cogroup per range exactly like ``topk_blockmax``; ``skip_acc``
        counts blocks skipped undecoded (span test) plus position streams
        never decoded.

        ``slop`` (ES ``match_phrase`` slop; Lucene SloppyPhraseQuery):
        with ``slop > 0`` the per-range scorer switches to the
        minimal-window sloppy matcher (``_make_sloppy_range_scorer`` —
        unordered-within-budget, transpositions cost 2, sloppy_freq sums
        1/(1+distance) over minimal windows). Plan shape is unchanged:
        the same block pruning applies (every phrase term is still
        required), positions still decode per-range for candidates only.
        """
        qterms = self._tok(query_text)
        if not qterms:
            return _empty_topk(self.spark)
        # per-field phrase (ES match_phrase on a non-default field of a
        # multi-field index): the field's tokens are prefixed term keys
        # whose posting blocks carry WITHIN-FIELD positions and the
        # field's dl stream, so the positional chassis runs unchanged —
        # only the term keys, idf stats (field doc_count) and avgdl
        # (field avgFieldLength) are swapped
        n_docs, avgdl = self.n_docs, self.avgdl
        if field is not None:
            from .build import DEFAULT_FIELD, field_term

            if self.field_stats is None:
                raise ValueError(
                    "field= needs a multi-field index — build with "
                    "build_index_multifield and pass field_stats"
                )
            if field not in self.field_stats:
                raise ValueError(
                    f"unknown field {field!r}; index has "
                    f"{sorted(self.field_stats)}"
                )
            if field != DEFAULT_FIELD:
                qterms = [field_term(field, t) for t in qterms]
            n_docs, avgdl = self.field_stats[field]
        scored = self._phrase_ranked(
            qterms, k, n_docs, avgdl, allowed, excluded, skip_acc, slop,
            "topk_phrase",
        )
        return _empty_topk(self.spark) if scored is None else scored

    def _plan_required(self, qterms: list[str]) -> tuple | None:
        """Plan of the positional block-max modes, whose every query term
        is required: ``(uniq, meta, order, blocks)`` — the distinct terms,
        their dictionary stats, their df-ascending processing order (ties:
        term) and their term-pruned scan pruned to the rarest term's doc
        ranges (``_in_rare_ranges``). None when there is no term or one is
        absent from the corpus (nothing can match)."""
        if not qterms:
            return None
        uniq = sorted(set(qterms))
        meta = self._term_meta(uniq)
        if any(meta[t][0] == 0 for t in uniq):
            return None
        order = sorted(uniq, key=lambda t: (meta[t][0], t))
        blocks = self._in_rare_ranges(
            self._term_blocks(uniq), order[:1], len(order)
        )
        return uniq, meta, order, blocks

    def _phrase_ranked(
        self,
        qterms: list[str],
        k: int | None,
        n_docs: int,
        avgdl: float,
        allowed: DataFrame | None = None,
        excluded: DataFrame | None = None,
        skip_acc=None,
        slop: int = 0,
        label: str = "topk_phrase",
    ) -> DataFrame | None:
        """The block-max phrase body behind ``topk_phrase`` (top ``k``)
        and ``_phrase_scored_fast`` (``k=None``: every match — the
        per-range emit cap is then the range capacity, ``2^range_bits``,
        so no match is truncated). None when a phrase term is absent."""
        plan = self._plan_required(qterms)
        if plan is None:
            return None
        _, meta, order, blocks = plan
        idf_phrase = sum(lucene_idf(n_docs, meta[t][0]) for t in qterms)
        cap = (1 << self.range_bits) if k is None else k
        if slop > 0:
            kernel = _make_sloppy_range_scorer(
                idf_phrase, avgdl, cap, self.range_bits, order,
                [(t, i) for i, t in enumerate(qterms)], slop, True,
            )
        else:
            offsets: dict[str, list[int]] = {}
            for i, t in enumerate(qterms):
                offsets.setdefault(t, []).append(i)
            kernel = _make_phrase_range_scorer(
                idf_phrase, avgdl, cap, self.range_bits, order, offsets
            )
        return self._run_range_scorer(
            kernel, blocks, meta, k, allowed, excluded, skip_acc,
            positions=True, label=label,
        )

    def topk_phrase_dataframe(
        self, query_text: str, k: int = 10, allowed: DataFrame | None = None
    ) -> DataFrame:
        """Exact phrase top-k (ES ``match_phrase``) over the positional
        postings (``pos_bytes``; requires ``build_index(positions=True)``,
        the default) — the pure-DataFrame reference twin of
        ``topk_phrase`` (rank- and score-identical; test-asserted).

        Semantics (Lucene PhraseQuery): a doc matches when the query's
        analyzed terms occur at consecutive positions; ``phrase_tf`` is the
        number of such occurrences (sliding — overlapping matches count)
        and the score treats the phrase as one pseudo-term:

            score = (Σ_i idf(term_i)) · tf_norm(phrase_tf, dl, avgdl)

        (idf summed over query POSITIONS, duplicates included — Lucene
        sums a SimScorer idf per phrase term.)

        Plan: phrase positions are ∩_i (positions(term_i) − i), computed
        with JVM built-ins only — per unique term, a decoded frame
        (doc_id, dl, S_t) where S_t is the term's position array shifted
        by its query offsets (``transform``; a term occurring at several
        query offsets intersects its own shifts first); the frames UNION
        and ONE ``groupBy(doc_id)`` folds them — match-all is a
        ``count = n_terms`` predicate and the phrase position set is an
        ``aggregate``/``array_intersect`` fold over the collected arrays.
        Exactly one shuffle, keyed on doc_id (vs an n-way join chain —
        which Spark also mis-resolves under self-join lineage); every
        term's candidate decode is term+bucket-pruned at the parquet scan.
        No Python touches the intersection math; the only Python is block
        decode.

        Skew guard (the leapfrog-intersection analogue): when the rarest
        phrase term's df is small (≤ ``_PHRASE_PREFILTER_MAX_DF``), its
        doc_id set is BROADCAST and every other term's decoded frame is
        left-semi-filtered by it BEFORE the union/shuffle — a phrase like
        "the <rare-word>" then ships only the hot term's positions for
        docs that can possibly match (df_rare rows), not all ~N·f("the")
        occurrences. Docs removed this way cannot match-all, so results
        are unchanged; the rare doc set itself comes from the cheap
        positionless decode (``flat_postings``).
        """
        scored = self._phrase_scored(query_text, allowed)
        if scored is None:
            return _empty_topk(self.spark)
        return scored.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)

    def _phrase_scored(
        self, query_text: str, allowed: DataFrame | None = None
    ) -> DataFrame | None:
        """Full exact-phrase scored set ``(doc_id, score)`` — the body of
        ``topk_phrase_dataframe`` without the final top-k, so the bool
        combiner (``bool_query``) can compose a phrase as one clause among
        many. ``None`` marks a phrase that can match nothing (empty after
        analysis, or a phrase term absent from the corpus)."""
        qterms = self._tok(query_text)
        if not qterms:
            return None
        uniq = sorted(set(qterms))
        meta = self._term_meta(uniq)
        if any(meta[t][0] == 0 for t in uniq):
            return None  # a phrase term matches nothing
        idf_phrase = sum(lucene_idf(self.n_docs, meta[t][0]) for t in qterms)
        # query offsets per unique term ("a b a" → {"a": [0, 2], "b": [1]})
        offsets: dict[str, list[int]] = {}
        for i, t in enumerate(qterms):
            offsets.setdefault(t, []).append(i)
        # one frame per unique term — each decodes ONLY its own blocks
        # (term+bucket predicates sit below the decode, so they reach the
        # parquet scan; a single shared decode would re-decode every
        # phrase term's blocks once per term)
        def _shift(off: int):
            # NB: the transform lambda must take exactly ONE parameter — a
            # second parameter would be bound to the ARRAY INDEX by Spark's
            # (element, index) lambda convention, not to a closure default
            return F.transform("positions", lambda x: x - F.lit(off))

        rarest, prefilter, rare_ranges = self._rare_prefilter(uniq, meta)

        parts: list[DataFrame] = []
        for t in uniq:
            blocks_t = self._term_blocks([t])
            if rare_ranges is not None and t != rarest:
                blocks_t = blocks_t.join(rare_ranges, "range_id", "left_semi")
            flat_t = flat_postings_positional(blocks_t)
            if prefilter is not None and t != rarest:
                flat_t = flat_t.join(prefilter, "doc_id", "left_semi")
            shifted = [_shift(i) for i in offsets[t]]
            s = shifted[0]
            for sh in shifted[1:]:
                s = F.array_intersect(s, sh)
            parts.append(flat_t.select("doc_id", "dl", s.alias("_s")))
        unioned = parts[0]
        for p in parts[1:]:
            unioned = unioned.unionByName(p)
        unioned = self._mask(unioned, allowed)  # bool-filter composition
        acc = (
            unioned
            .groupBy("doc_id")
            .agg(
                F.first("dl").alias("dl"),
                F.count("*").alias("_nt"),
                F.collect_list("_s").alias("_ss"),
            )
            .where(F.col("_nt") == len(uniq))
            .withColumn(
                "_s0",
                F.aggregate(
                    F.slice("_ss", 2, len(uniq) - 1) if len(uniq) > 1
                    else F.array().cast("array<array<long>>"),
                    F.col("_ss")[0],
                    lambda a, x: F.array_intersect(a, x),
                ),
            )
        )
        ptf = F.size("_s0")
        return acc.where(ptf > 0).select(
            "doc_id",
            (
                F.lit(idf_phrase)
                * ptf.cast("double")
                * (codec.K1 + 1.0)
                / (
                    ptf.cast("double")
                    + codec.K1
                    * (1.0 - codec.B + codec.B * F.col("dl") / F.lit(self.avgdl))
                )
            ).alias("score"),
        )

    def _phrase_scored_fast(self, query_text: str) -> DataFrame | None:
        """Full exact-phrase scored set ``(doc_id, score)`` on the
        block-max positional chassis — the scale-path twin of
        ``_phrase_scored`` used by ``bool_query`` clauses (which need the
        FULL clause match set, not a top-k).

        Same plan as ``topk_phrase`` with the per-range emit cap set to
        the range capacity (``2^range_bits``) so no match is truncated:
        blocks group by doc range, every term's blocks semi-join the
        rarest term's range_ids (block metadata only), pass 1 intersects
        doc candidates on the cheap streams, pass 2 decodes positions for
        candidates only — decoded positions never cross an executor
        boundary. Scores are bit-identical to ``_phrase_scored``
        (``_finish_positional_topk`` mirrors the JVM operation order;
        asserted by tests and the bq1/qs1 oracle twins). Replaces the
        union/groupBy plan here because a hot×hot phrase clause inside a
        bool query paid the decode-everything worst case (measured 3.6 s
        of a 6 s q_bool_mix at sf0.1) plus an EAGER localCheckpoint job
        for the prefilter."""
        return self._phrase_ranked(
            self._tok(query_text), None, self.n_docs, self.avgdl,
            label="phrase_scored",
        )

    # ---------------- ES bool query (compositional DSL) ----------------

    def _prefetch_clause_meta(self, clauses: list[dict]) -> None:
        """Warm the dictionary term-meta cache for every match /
        match_phrase clause in ONE collect — per-clause ``_plan`` calls
        otherwise each run their own tiny dictionary job (4 driver round
        trips for the bench's 4-clause bool query; guide §1.2 per-task
        overhead)."""
        terms: set[str] = set()
        for c in clauses:
            (kind, body), = c.items()
            if kind in ("match", "match_phrase"):
                terms.update(self._tok(body["query"]))
        if terms:
            self._term_meta(sorted(terms))

    def _clause_scored(self, clause: dict) -> DataFrame | None:
        """Full scored match set ``(doc_id, score)`` for ONE scored clause
        spec — the unit ``bool_query`` composes. ``None`` marks a clause
        that can match nothing (all terms corpus-absent, or an
        unsatisfiable operator:and / minimum_should_match): in must
        position that empties the result; in should position it
        contributes nothing but still counts toward an explicit
        minimum_should_match denominator (the ES unmatchable-clause
        contract, same as ``topk_msm``); in must_not it excludes nothing.

        The set may hold tombstoned docs: its callers (``bool_query``,
        ``topk_boosting``) mask their combined frame once (``_mask``)
        instead of every clause anti-joining the tombstone table.

        Scored clause kinds (ES query DSL shapes):

        * ``{"match": {"query": text[, "operator": "or"|"and"]
          [, "minimum_should_match": spec][, "boost": w]}}``
        * ``{"match_phrase": {"query": text[, "boost": w]}}``
        * ``{"prefix": {"value": p[, "boost": w]}}`` — ES's
          constant_score rewrite: every matching doc scores 1.0·boost.
        * ``{"match_all": {[, "boost": w]}}`` — every doc at constant
          1.0·boost (the ES match_all query).
        * ``{"ids": {"values": [doc_id, ...][, "boost": w]}}`` — the ES
          ids query: the given INTERNAL doc_ids at constant 1.0·boost
          (indexed ids only); an empty list matches nothing.
        * ``{"fuzzy": {"value": t[, "fuzziness": n][, "prefix_length": p]
          [, "max_expansions": m][, "boost": w]}}``,
          ``{"wildcard": {"value": pat[, "boost": w]}}``,
          ``{"regexp": {"value": pat[, "boost": w]}}`` — the multi-term
          kinds rendered as constant score: every doc matching ANY
          expansion scores 1.0·boost. DOCUMENTED DEVIATION (round-6
          ADVICE): ES's default fuzzy rewrite inside bool is
          ``top_terms_blended_freqs``, which produces blended BM25-like
          scores, not a constant — callers needing scored expansion
          ranking should use the standalone ``topk_fuzzy`` (scored BM25
          rewrite via ``_topk_expanded``) instead of a bool clause.

        Each clause is ONE independent decode + aggregation over its own
        term-pruned block scan (scale shape identical to
        ``topk_dataframe`` / ``_phrase_scored``); ``boost`` folds as a
        final column multiply, so the clause plan never changes with it.
        """
        (kind, body), = clause.items()
        boost = float(body.get("boost", 1.0))
        if boost < 0:
            raise ValueError(f"boost must be >= 0, got {boost}")
        if kind == "match":
            text = body["query"]
            plan = self._plan(text)
            if plan is None:
                return None
            idfs, blocks, _ = plan
            n_clauses = len(set(self._tok(text)))
            require_n = min_match = None
            if body.get("operator", "or") == "and":
                if len(idfs) < n_clauses:
                    return None  # an absent term can never match-all
                require_n = n_clauses
            elif "minimum_should_match" in body:
                min_match = parse_min_should_match(
                    body["minimum_should_match"], n_clauses
                )
                if min_match > len(idfs):
                    return None
            scored = self._bm25_scored(
                flat_postings(blocks), idfs,
                require_n=require_n, min_match=min_match,
            )
        elif kind == "match_phrase":
            scored = self._phrase_scored_fast(body["query"])
            if scored is None:
                return None
        elif kind == "prefix":
            ms = self._prefix_matchset(body["value"])
            if ms is None:
                return None
            scored = ms.select("doc_id", F.lit(1.0).alias("score"))
        elif kind == "match_all":
            scored = self._all_doc_ids().select(
                "doc_id", F.lit(1.0).alias("score")
            )
        elif kind == "ids":
            vals = [int(v) for v in body["values"]]
            if not vals:
                return None  # ES: an empty ids list matches nothing
            ids_df = self.spark.createDataFrame(
                [(v,) for v in sorted(set(vals))], "doc_id long"
            )
            scored = (
                ids_df.join(
                    self._all_doc_ids(), "doc_id", "left_semi"
                )  # only INDEXED ids match (ES drops unknown ids)
                .select("doc_id", F.lit(1.0).alias("score"))
            )
        elif kind in ("fuzzy", "wildcard", "regexp"):
            if kind == "fuzzy":
                terms = self.expand_fuzzy(
                    body["value"],
                    fuzziness=body.get("fuzziness"),
                    prefix_length=int(body.get("prefix_length", 0)),
                    max_expansions=int(body.get("max_expansions", 50)),
                )
            elif kind == "wildcard":
                terms = self.expand_wildcard(
                    body["value"],
                    max_expansions=int(body.get("max_expansions", 1024)),
                )
            else:
                terms = self.expand_regexp(
                    body["value"],
                    max_expansions=int(body.get("max_expansions", 1024)),
                )
            ms = self._terms_matchset(terms)
            if ms is None:
                return None
            scored = ms.select("doc_id", F.lit(1.0).alias("score"))
        else:
            raise ValueError(
                f"unknown scored clause kind {kind!r}; expected "
                "match / match_phrase / prefix / match_all / ids / "
                "fuzzy / wildcard / regexp (put attr predicates — "
                "term/range/exists/terms — in filter or must_not)"
            )
        if boost != 1.0:
            scored = scored.select(
                "doc_id", (F.col("score") * F.lit(boost)).alias("score")
            )
        return scored

    def _prefix_matchset(self, prefix: str) -> DataFrame | None:
        """Distinct doc_ids containing ANY dictionary term with the
        prefix (Lucene constant_score multi-term rewrite's match set):
        term-pruned block scan → cheap positionless decode → distinct."""
        return self._terms_matchset(self.expand_prefix(prefix, 1 << 20))

    def _terms_matchset(self, terms: list[str]) -> DataFrame | None:
        """Distinct doc_ids containing ANY of ``terms`` — the
        constant_score multi-term rewrite's match set shared by the
        prefix / fuzzy / wildcard / regexp clause kinds: term-pruned
        block scan → cheap positionless decode → distinct. Unmasked, as
        every ``_clause_scored`` set."""
        if not terms:
            return None
        return flat_postings(self._term_blocks(terms)).select("doc_id").distinct()

    def _clause_matchset(
        self, clause: dict, attrs: DataFrame | None
    ) -> DataFrame | None:
        """doc_id-only match set for a clause in filter / must_not context
        (never contributes score). Adds the attr-predicate workhorses of
        the ES filter context to the scored kinds:

        * ``{"term": {"col": c, "value": v}}`` — ``attrs[c] == v``
        * ``{"range": {"col": c, "gte"/"gt"/"lte"/"lt": bound, ...}}``
        * ``{"exists": {"col": c}}`` — ``attrs[c] IS NOT NULL``

        Attr clauses are pushed-down column predicates over ``attrs``
        (``doc_id`` + attribute columns, the same convention as
        ``sort_by`` and the aggregations — derive it from the docs table
        so Catalyst pushes the predicate to the parquet scan); scored
        kinds reuse ``_clause_scored`` and drop the score column. Like
        theirs, the set may hold tombstoned docs."""
        (kind, body), = clause.items()
        if kind in ("term", "range", "exists", "terms"):
            if attrs is None:
                raise ValueError(f"{kind!r} clause needs attrs=")
            pred = self._attr_pred(attrs, kind, body)
            return attrs.where(pred).select("doc_id")
        scored = self._clause_scored(clause)
        return None if scored is None else scored.select("doc_id")

    def _attr_pred(self, attrs: DataFrame, kind: str, body: dict):
        """Column predicate for an attr clause spec (term/range/exists —
        the ES filter-context workhorses), shared by ``_clause_matchset``
        and ``filters_agg`` so the spec grammar exists exactly once.
        Pushed-down column expressions over ``attrs``: when attrs derives
        from the docs parquet, Catalyst pushes these to the scan."""
        c = self._attr_col(attrs, body["col"])
        if kind == "term":
            return c == F.lit(body["value"])
        if kind == "terms":
            vals = list(body["values"])
            if not vals:
                return F.lit(False)  # ES: empty terms list matches nothing
            return c.isin(vals)
        if kind == "exists":
            return c.isNotNull()
        if kind == "range":
            ops = [
                (op, body[op])
                for op in ("gte", "gt", "lte", "lt")
                if op in body
            ]
            if not ops:
                raise ValueError(
                    "range clause needs at least one of gte/gt/lte/lt"
                )
            pred = F.lit(True)
            for op, v in ops:
                cmp = {
                    "gte": c >= F.lit(v), "gt": c > F.lit(v),
                    "lte": c <= F.lit(v), "lt": c < F.lit(v),
                }[op]
                pred = pred & cmp
            return pred
        raise ValueError(
            f"unknown attr clause kind {kind!r}; expected "
            "term/terms/range/exists"
        )

    def bool_query(
        self,
        must: list[dict] | None = None,
        should: list[dict] | None = None,
        must_not: list[dict] | None = None,
        filter: list[dict] | None = None,  # noqa: A002 — ES clause name
        attrs: DataFrame | None = None,
        minimum_should_match: int | str | None = None,
        k: int = 10,
        allowed: DataFrame | None = None,
        excluded: DataFrame | None = None,
    ) -> DataFrame:
        """ES ``bool`` query — the compositional core of the ES query DSL
        (every structured Kibana search compiles to one). Scored clauses
        in ``must``/``should`` each produce a full (doc_id, score) set;
        the final score is the SUM of matching must + should clause
        scores (Lucene BooleanWeight); ``filter`` and ``must_not`` gate
        matching but never score. ``minimum_should_match`` follows the ES
        default — 1 when there are should clauses and no must/filter,
        else 0 — and an explicit value (int or ES spec grammar, e.g.
        ``"75%"``; see ``parse_min_should_match``) overrides it, parsed
        over the TOTAL should-clause count: an unmatchable should clause
        still counts toward the requirement, exactly like absent terms in
        ``topk_msm``. A bool with only filter clauses is the ES filter
        context: every passing doc scores 0.0, ordered by doc_id.

        Plan shape at scale: every scored clause is one independent
        term-pruned decode + aggregation (no clause ever scans another
        clause's postings); the combine is ONE union + groupBy(doc_id)
        shuffle carrying (score, is_must) — the match-all-musts and msm
        gates are HAVING predicates on that same aggregation, never a
        join chain. The clause frames are not masked one by one: the
        combined frame anti-joins the tombstone table once (``_mask``,
        with the allow/deny sets). Filters left-semi-join on doc_id (AQE
        broadcasts selective ones) and must_not anti-joins; nothing
        collects to the driver. Replaces the reference's delegation of
        bool queries to Elasticsearch (rabbit_indexer delegates all
        search to ES 7.9.1).

        ``allowed``/``excluded`` are plain doc_id allow/deny frames (the
        convention every other query mode uses) composing as one extra
        filter / must_not set — so CLI ``--filter``/``--exclude``
        predicates apply to bool queries too instead of being silently
        ignored."""
        must = list(must or [])
        should = list(should or [])
        must_not = list(must_not or [])
        filters = list(filter or [])
        if not (must or should or filters):
            raise ValueError(
                "bool_query needs at least one of must/should/filter"
            )
        # one dictionary job for every clause's terms (vs one per clause)
        self._prefetch_clause_meta(must + should + must_not)
        frames: list[DataFrame] = []
        for c in must:
            s = self._clause_scored(c)
            if s is None:  # an unmatchable must empties the result
                return _empty_topk(self.spark)
            frames.append(s.select("doc_id", "score", F.lit(1).alias("_m")))
        n_should_alive = 0
        for c in should:
            s = self._clause_scored(c)
            if s is not None:
                n_should_alive += 1
                frames.append(
                    s.select("doc_id", "score", F.lit(0).alias("_m"))
                )
        if minimum_should_match is not None:
            msm_eff = parse_min_should_match(
                minimum_should_match, len(should)
            )
        else:
            msm_eff = 1 if (should and not must and not filters) else 0
        if msm_eff > n_should_alive:
            return _empty_topk(self.spark)  # requirement unreachable
        if not frames:
            # pure filter context: intersect filter match sets, constant 0
            base: DataFrame | None = None
            for c in filters:
                ms = self._clause_matchset(c, attrs)
                if ms is None:
                    return _empty_topk(self.spark)
                base = ms if base is None else base.join(
                    ms, "doc_id", "left_semi"
                )
            assert base is not None
            base = self._mask(
                self._apply_must_not(base, must_not, attrs), allowed, excluded
            )
            return (
                base.select("doc_id", F.lit(0.0).alias("score"))
                .orderBy(F.asc("doc_id"))
                .limit(k)
            )
        unioned = frames[0]
        for f in frames[1:]:
            unioned = unioned.unionByName(f)
        combined = (
            unioned.groupBy("doc_id")
            .agg(
                F.sum("score").alias("score"),
                F.sum("_m").alias("_nm"),
                F.sum(1 - F.col("_m")).alias("_ns"),
            )
            .where(
                (F.col("_nm") == len(must)) & (F.col("_ns") >= msm_eff)
            )
            .select("doc_id", "score")
        )
        for c in filters:
            ms = self._clause_matchset(c, attrs)
            if ms is None:
                return _empty_topk(self.spark)
            combined = combined.join(ms, "doc_id", "left_semi")
        combined = self._mask(combined, allowed, excluded)
        combined = self._apply_must_not(combined, must_not, attrs)
        return combined.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)

    def _apply_must_not(
        self,
        df: DataFrame,
        must_not: list[dict],
        attrs: DataFrame | None,
    ) -> DataFrame:
        """Anti-join the union of must_not clause match sets (ES bool
        must_not: pure exclusion, no effect on scores)."""
        sets = [
            m
            for m in (self._clause_matchset(c, attrs) for c in must_not)
            if m is not None
        ]
        if not sets:
            return df
        ex = sets[0]
        for m in sets[1:]:
            ex = ex.unionByName(m)
        return df.join(ex, "doc_id", "left_anti")

    def topk_boosting(
        self,
        positive: dict,
        negative: dict,
        negative_boost: float,
        attrs: DataFrame | None = None,
        k: int = 10,
        allowed: DataFrame | None = None,
        excluded: DataFrame | None = None,
    ) -> DataFrame:
        """ES ``boosting`` query: return every match of the ``positive``
        clause, but DEMOTE (not exclude) docs that also match the
        ``negative`` clause by multiplying their score by
        ``negative_boost`` — the "prefer, don't filter" query (e.g. rank
        apple-the-company above apple-the-fruit without dropping fruit
        docs). Unlike ``bool.must_not`` the negative matches stay in the
        result set, re-ranked. ES contract: ``negative_boost`` in
        [0, 1.0] (0 floors negative matches to score 0 but keeps them).

        Clause specs are the ``bool_query`` grammar: scored kinds
        (match / match_phrase / prefix) for ``positive``; ``negative``
        additionally accepts the attr predicates (term/range/exists,
        needs ``attrs=``) since it only ever needs a match SET.

        Plan shape: positive = one term-pruned decode + aggregation
        (``_clause_scored``); negative = one doc_id match set; combine =
        ONE left join (AQE broadcasts a selective negative side) + a
        codegen conditional multiply. Nothing collects. Replaces the
        reference's delegation of the boosting query to Elasticsearch
        (rabbit_indexer delegates all search to ES 7.9.1)."""
        if not (0.0 <= negative_boost <= 1.0):
            raise ValueError(
                f"negative_boost must be in [0, 1], got {negative_boost}"
            )
        pos = self._clause_scored(positive)
        if pos is None:
            return _empty_topk(self.spark)
        neg = self._clause_matchset(negative, attrs)
        if neg is not None:
            marked = neg.select("doc_id", F.lit(1).alias("_neg"))
            pos = (
                pos.join(marked, "doc_id", "left")
                .select(
                    "doc_id",
                    F.when(
                        F.col("_neg").isNotNull(),
                        F.col("score") * F.lit(float(negative_boost)),
                    )
                    .otherwise(F.col("score"))
                    .alias("score"),
                )
            )
        # the clause frames are unmasked: one mask (see bool_query)
        pos = self._mask(pos, allowed, excluded)
        return pos.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)

    def topk_query_string(
        self,
        text: str,
        k: int = 10,
        default_operator: str = "or",
        attrs: DataFrame | None = None,
        filter: list[dict] | None = None,  # noqa: A002 — ES clause name
        minimum_should_match: int | str | None = None,
        allowed: DataFrame | None = None,
        excluded: DataFrame | None = None,
    ) -> DataFrame:
        """ES ``simple_query_string`` — parse the search-bar grammar
        (``+required -prohibited "a phrase" prefix* plain terms``, see
        ``parse_simple_query_string``) and run it through ``bool_query``.
        ``filter``/``attrs`` compose structured predicates with the typed
        text exactly like the ES request body does; ``allowed``/
        ``excluded`` are the doc_id allow/deny frames every query mode
        accepts (the CLI's --filter/--exclude)."""
        spec = parse_simple_query_string(text, default_operator)
        if not (spec["must"] or spec["should"]):
            if not spec["must_not"] and not filter and allowed is None:
                return _empty_topk(self.spark)
            # prohibit-only / filter-only input: ES matches everything
            # except the prohibited set (match_all + must_not), scoreless
            return self.bool_query(
                must_not=spec["must_not"],
                filter=(filter or [{"exists": {"col": "doc_id"}}]),
                attrs=attrs if attrs is not None else self._all_doc_ids(),
                k=k,
                allowed=allowed,
                excluded=excluded,
            )
        return self.bool_query(
            must=spec["must"],
            should=spec["should"],
            must_not=spec["must_not"],
            filter=filter,
            attrs=attrs,
            minimum_should_match=minimum_should_match,
            k=k,
            allowed=allowed,
            excluded=excluded,
        )

    def _all_docs_attrs(self) -> DataFrame:
        """Minimal attrs frame covering every live doc: ``_all_doc_ids``
        with the tombstones masked."""
        return self._mask(self._all_doc_ids())

    def _all_doc_ids(self) -> DataFrame:
        """Every indexed doc_id, tombstoned ones included (match_all's /
        ids' candidate set). With a ``doc_stats`` roster (pass it at
        construction — one doc_id column prune of the docs table) this is
        ES-exact INCLUDING zero-token docs, which appear in no posting.
        Without one it falls back to the distinct doc_ids of the dl
        stream — a metadata-cheap derivation that misses dl=0 docs."""
        if self.doc_stats is not None:
            return self.doc_stats.select("doc_id")
        return flat_postings(self.postings).select("doc_id").distinct()

    def _rare_prefilter(
        self, uniq: list[str], meta: dict[str, tuple[int, int, int]]
    ) -> tuple[str | None, DataFrame | None, DataFrame | None]:
        """Skew guard shared by the positional intersections (phrase /
        near). Returns (skip_term, doc-id prefilter frame, distinct-range
        frame); callers semi-join every term's posting BLOCKS by doc range
        BEFORE the Python decode, and every term's decoded rows by doc_id
        before the shuffle — ``skip_term`` (if not None) is the one term
        the filters derive from, which therefore skips them. Conjunctive
        semantics make both removals lossless: a doc missing from the
        filter lacks some phrase term and can never match.

        Two regimes, NO hard cliff (round-3 verdict item 2):

        * **rare-term broadcast** — when the rarest term's df ≤
          ``_PHRASE_PREFILTER_MAX_DF`` (a ~16 MB broadcast), its doc set
          (cheap positionless decode) broadcasts and filters the other
          terms map-side — zero extra shuffle, the leapfrog-intersection
          analogue for "the <rare-word>" phrases.
        * **two-phase doc intersection** — when EVERY term is hot (the
          "new york" case at 10^9+ docs), intersect ALL terms' cheap
          positionless decodes first (union + one groupBy of bare
          doc_ids) and semi-join each term's positional decode on the
          surviving docs: positions are shipped only for docs that can
          match, at ANY df. The candidate frame is a real distributed
          table (localCheckpoint'd — it feeds one semi-join per term plus
          the range frame); AQE still broadcasts it when it turns out
          small. ``skip_term`` is None: the intersection constrains every
          term, including the rarest.
        """
        rarest = min(uniq, key=lambda t: meta[t][0])
        if len(uniq) < 2:
            return rarest, None, None
        if meta[rarest][0] > max(1, self.n_docs // 2):
            # non-selective guard (r7): when even the RAREST term matches
            # over half the corpus, the prefilter removes < half of the
            # other terms' rows but still costs an eager decode job, a
            # broadcast and per-term semi-joins — measured net-negative
            # on the hot×hot worst case (interleaved A/B at sf0.1:
            # phrase_df 1.68→1.19 s, near_df 1.91→1.53 s median without
            # it). Lossless to skip: the prefilter only ever removes
            # rows that cannot match.
            return rarest, None, None

        if meta[rarest][0] <= self._PHRASE_PREFILTER_MAX_DF:
            # localCheckpoint: the decoded rare doc set feeds TWO broadcast
            # subtrees (doc ids + distinct ranges) — without materializing
            # it once, the Python block decode would run once per subtree
            rare_ids = (
                flat_postings(self._term_blocks([rarest]))
                .select("doc_id")
                .localCheckpoint()
            )
            prefilter = F.broadcast(rare_ids)
            rare_ranges = F.broadcast(
                rare_ids.select(
                    F.shiftright("doc_id", self.range_bits).alias("range_id")
                ).distinct()
            )
            return rarest, prefilter, rare_ranges

        # every term hot: two-phase doc-level intersection (cap-free)
        unioned = None
        for t in uniq:
            part = flat_postings(self._term_blocks([t])).select("doc_id")
            unioned = part if unioned is None else unioned.unionByName(part)
        cand = (
            unioned.groupBy("doc_id")
            .agg(F.count("*").alias("_n"))
            .where(F.col("_n") == len(uniq))
            .select("doc_id")
            .localCheckpoint()
        )
        ranges = cand.select(
            F.shiftright("doc_id", self.range_bits).alias("range_id")
        ).distinct()
        return None, cand, ranges

    def _matched_docs(
        self,
        query_text: str,
        allowed: DataFrame | None = None,
        excluded: DataFrame | None = None,
    ) -> DataFrame | None:
        """Distinct live doc_ids matching the (disjunctive) query — the
        shared match-set base of every aggregation (facets / histogram /
        stats / cardinality) and of ``sort_by``: one term+bucket-pruned
        decode, masked (``_mask``), one distinct. None when no query term
        exists."""
        plan = self._plan(query_text)
        if plan is None:
            return None
        _, blocks, _ = plan
        return self._mask(
            flat_postings(blocks).select("doc_id"), allowed, excluded
        ).distinct()

    def page(
        self,
        query_text: str,
        from_: int = 0,
        size: int = 10,
        **kwargs,
    ) -> DataFrame:
        """ES ``from``/``size`` pagination over BM25 results: page N is
        rows ``from_+1 .. from_+size`` of the deterministic global order
        ``(score desc, doc_id asc)``. Runs ``topk_blockmax(from_+size)``
        (ES does the same — deep paging costs grow with ``from``; its
        ``max_result_window`` guard is the caller's ``from_+size``
        budget) and drops the first ``from_`` rows with a row_number over
        the ≤ from_+size collected candidates (a single tiny partition by
        construction, never the corpus). ``kwargs`` pass through to
        ``topk_blockmax`` (allowed/excluded/boosts/...)."""
        from pyspark.sql import Window

        if from_ < 0 or size <= 0:
            raise ValueError(f"need from_ >= 0 and size > 0, got {from_}/{size}")
        top = self.topk_blockmax(query_text, from_ + size, **kwargs)
        w = Window.orderBy(F.desc("score"), F.asc("doc_id"))
        return (
            top.withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") > from_)
            .drop("_rn")
        )

    def search_after(
        self,
        query_text: str,
        k: int = 10,
        after: tuple[float, int] | None = None,
        allowed: DataFrame | None = None,
        excluded: DataFrame | None = None,
        boosts: dict[str, float] | None = None,
        skip_acc=None,
    ) -> DataFrame:
        """ES ``search_after`` deep pagination: the next ``k`` docs
        STRICTLY after the cursor ``after = (score, doc_id)`` (the last row
        of the previous page) in the global ``(score desc, doc_id asc)``
        order. ``after=None`` is the first page (== ``topk_blockmax``).

        Why this beats ``page`` at depth (the same trade ES documents):
        ``page`` ranks ``from_+size`` candidates — every doc range keeps a
        from_+size-slot heap and ships from_+size rows to the global
        top-k, so page N costs O(N·k) heap + transfer per range. The
        cursor version keeps only k: θ runs over docs provably BELOW the
        cursor (partial + remaining-upper-bound < after_score — see
        ``_make_range_scorer``'s cursor contract for the exactness
        argument; the θ₀ probe seeds it corpus-wide the same way), and
        each range emits at most k rows whatever the depth. Decode volume
        is the information-theoretic floor either way — the kth-best
        ELIGIBLE score IS the (depth+k)th-best global score, so block
        pruning is never weaker than the equivalent from/size query
        (test-pinned) but cannot be asymptotically stronger. Scores are
        bit-exact across pages (deterministic accumulation), so the float
        cursor equality in the tie predicate is stable — use the previous
        page's UNROUNDED score.

        Composes with ``allowed``/``excluded``/``boosts`` exactly like
        ``topk_blockmax``."""
        plan = self._plan(query_text)
        if plan is None:
            return _empty_topk(self.spark)
        idfs, blocks, meta = plan
        idfs = _fold_boosts(idfs, boosts)
        if after is not None:
            after = (float(after[0]), int(after[1]))
        theta0 = (
            0.0 if allowed is not None or excluded is not None
            else self._seed_theta0(idfs, meta, blocks, k, cursor=after)
        )
        return self._run_range_scorer(
            _make_range_scorer(
                idfs, self.avgdl, k, self.range_bits, theta0=theta0,
                cursor=after,
            ),
            blocks, meta, k, allowed, excluded, skip_acc,
            label="search_after",
        )

    def sort_by(
        self,
        query_text: str,
        attrs: DataFrame,
        col: str,
        k: int = 10,
        ascending: bool = True,
        allowed: DataFrame | None = None,
        excluded: DataFrame | None = None,
    ) -> DataFrame:
        """ES ``sort`` by a field (scoring skipped, like ES with
        ``track_scores: false``): the query's live match set LEFT-joins
        ``attrs`` once and orders by the attribute (nulls last, doc_id
        tie-break — a total order, so rank-k is deterministic). A matched
        doc with NO attrs row ranks last like a null value (ES sorts
        missing-field docs last; an inner join would silently drop it —
        round-5 ADVICE). ``allowed``/``excluded`` compose like every other
        entry point (bool filter / must_not over the match set). Returns
        ``(doc_id, <col>)``."""
        matched = self._matched_docs(query_text, allowed, excluded)
        v = self._attr_col(attrs, col)
        if matched is None:
            return attrs.select("doc_id", v).limit(0)
        key = v.asc_nulls_last() if ascending else v.desc_nulls_last()
        return (
            matched.join(attrs, "doc_id", "left")
            .select("doc_id", v)
            .orderBy(key, F.asc("doc_id"))
            .limit(k)
        )

    _FVF_MODIFIERS = ("none", "ln1p", "sqrt", "square", "reciprocal")

    def topk_function_score(
        self,
        query_text: str,
        attrs: DataFrame,
        col: str,
        k: int = 10,
        factor: float = 1.0,
        modifier: str = "none",
        missing: float | None = None,
        boost_mode: str = "multiply",
        allowed: DataFrame | None = None,
        excluded: DataFrame | None = None,
    ) -> DataFrame:
        """ES ``function_score`` with ``field_value_factor`` — rescale
        relevance by a document attribute (the canonical "boost by
        popularity/recency" query):

            fv        = modifier(factor · attrs[col])
            new_score = score · fv   (boost_mode=multiply, the default)
                      | score + fv   (boost_mode=sum)

        ``modifier`` ∈ none | ln1p | sqrt | square | reciprocal — the ES
        set minus the base-10 ``log*`` variants (``ln1p`` is ES's ln1p =
        Spark ``log1p``; ES ``log1p`` is base-10 and differs only by the
        constant ln 10). ``missing``
        substitutes for docs whose attribute is NULL or absent; with
        ``missing=None`` such docs DROP from the result (ES raises a
        per-doc error here — a distributed scorer cannot, so the
        documented contract is exclusion; pass ``missing`` for ES's
        subst-value behavior).

        Plan: ONE full-match-set BM25 aggregation (the ``topk_dataframe``
        decode), one left join to attrs, the rescale is a pure column
        expression — function_score can't prune with block-max bounds
        because the attribute term is unbounded, which is exactly why ES
        itself warns function_score queries are slower; the shape here
        (join + codegen expression) is the best distributed form."""
        if modifier not in self._FVF_MODIFIERS:
            raise ValueError(
                f"modifier must be one of {self._FVF_MODIFIERS}, got "
                f"{modifier!r}"
            )
        if boost_mode not in ("multiply", "sum"):
            raise ValueError(
                f"boost_mode must be multiply or sum, got {boost_mode!r}"
            )
        plan = self._plan(query_text)
        if plan is None:
            return _empty_topk(self.spark)
        idfs, blocks, _ = plan
        flat = self._mask(flat_postings(blocks), allowed, excluded)
        scored = self._bm25_scored(flat, idfs)
        v = self._attr_col(attrs, col).cast("double")
        joined = scored.join(
            attrs.select("doc_id", v.alias("_fv_raw")), "doc_id", "left"
        )
        raw = F.col("_fv_raw")
        if missing is not None:
            raw = F.coalesce(raw, F.lit(float(missing)))
        else:
            joined = joined.where(F.col("_fv_raw").isNotNull())
        x = raw * F.lit(float(factor))
        fv = {
            "none": x,
            "ln1p": F.log1p(x),
            "sqrt": F.sqrt(x),
            "square": x * x,
            "reciprocal": F.lit(1.0) / x,
        }[modifier]
        new_score = (
            F.col("score") * fv if boost_mode == "multiply"
            else F.col("score") + fv
        )
        return (
            joined.select("doc_id", new_score.alias("score"))
            .orderBy(F.desc("score"), F.asc("doc_id"))
            .limit(k)
        )

    def topk_decay(
        self,
        query_text: str,
        attrs: DataFrame,
        col: str,
        origin: float,
        scale: float,
        offset: float = 0.0,
        decay: float = 0.5,
        kind: str = "gauss",
        boost_mode: str = "multiply",
        k: int = 10,
        allowed: DataFrame | None = None,
        excluded: DataFrame | None = None,
    ) -> DataFrame:
        """ES ``function_score`` DECAY functions (gauss / exp / linear)
        on a numeric attribute — "boost by closeness" (recency, price,
        distance-from-target). The exact ES numeric formulas, with
        ``d = max(0, |value − origin| − offset)``:

        * ``gauss``:  exp(−d² / 2σ²),  σ² = −scale² / (2·ln decay)
        * ``exp``:    exp(λ·d),        λ  = ln(decay) / scale
        * ``linear``: max(0, (s − d)/s),  s = scale / (1 − decay)

        so the factor is exactly ``decay`` at distance ``scale`` beyond
        ``offset`` for every kind. Docs with a NULL/absent field get
        factor 1.0 — the documented ES behavior for missing numeric
        fields. ``boost_mode`` multiply (default) or sum.

        Plan shape: same as ``topk_function_score`` — ONE full-match-set
        BM25 aggregation + one left join to attrs + a pure codegen column
        expression; unbounded-attribute rescales can't block-max prune,
        which is ES's own function_score caveat."""
        if kind not in ("gauss", "exp", "linear"):
            raise ValueError(
                f"kind must be gauss / exp / linear, got {kind!r}"
            )
        if boost_mode not in ("multiply", "sum"):
            raise ValueError(
                f"boost_mode must be multiply or sum, got {boost_mode!r}"
            )
        if scale <= 0:
            raise ValueError(f"scale must be > 0, got {scale}")
        if not (0.0 < decay < 1.0):
            raise ValueError(f"decay must be in (0, 1), got {decay}")
        if offset < 0:
            raise ValueError(f"offset must be >= 0, got {offset}")
        plan = self._plan(query_text)
        if plan is None:
            return _empty_topk(self.spark)
        idfs, blocks, _ = plan
        flat = self._mask(flat_postings(blocks), allowed, excluded)
        scored = self._bm25_scored(flat, idfs)
        v = self._attr_col(attrs, col).cast("double")
        joined = scored.join(
            attrs.select("doc_id", v.alias("_dv")), "doc_id", "left"
        )
        d = F.greatest(
            F.abs(F.col("_dv") - F.lit(float(origin))) - F.lit(float(offset)),
            F.lit(0.0),
        )
        if kind == "gauss":
            sigma2 = -(scale * scale) / (2.0 * math.log(decay))
            factor = F.exp(-(d * d) / F.lit(2.0 * sigma2))
        elif kind == "exp":
            lam = math.log(decay) / scale
            factor = F.exp(F.lit(lam) * d)
        else:  # linear
            s = scale / (1.0 - decay)
            factor = F.greatest(
                (F.lit(s) - d) / F.lit(s), F.lit(0.0)
            )
        factor = F.coalesce(factor, F.lit(1.0))  # missing field → 1.0 (ES)
        new_score = (
            F.col("score") * factor if boost_mode == "multiply"
            else F.col("score") + factor
        )
        return (
            joined.select("doc_id", new_score.alias("score"))
            .orderBy(F.desc("score"), F.asc("doc_id"))
            .limit(k)
        )

    def topk_pinned(
        self, ids: list[int], query_text: str, k: int = 10
    ) -> DataFrame:
        """ES ``pinned`` query: the given doc_ids appear FIRST, in the
        given order (regardless of relevance — they need not match the
        organic query, only exist and be live), then the organic match
        ranking with pinned docs deduplicated out. ES fakes this with
        descending near-FLOAT_MAX scores; the honest relational rendering
        is an explicit ``(doc_id, rank)`` — rank 1..p for live pinned
        docs, p+1.. for organic (score desc, doc_id asc).

        Plan: one ``topk_dataframe`` run over-fetched by len(ids) (so k
        organic rows survive the dedup), one tiny roster semi-join for
        the pinned liveness check, and a row_number over the ≤ k+len(ids)
        result rows — the pinned list is query-sized (ES caps ~100),
        never data-sized."""
        from pyspark.sql.window import Window

        ids = [int(d) for d in ids]
        if len(set(ids)) != len(ids):
            raise ValueError(f"pinned ids must be unique: {ids}")
        organic = self.topk_dataframe(query_text, k + len(ids)).select(
            "doc_id",
            F.lit(1).alias("_grp"),
            (-F.col("score")).alias("_key"),
        )
        if ids:
            organic = organic.where(~F.col("doc_id").isin(ids))
            pinned = self.spark.createDataFrame(
                [(d, i) for i, d in enumerate(ids)], "doc_id long, _ord int"
            )
            pinned_live = pinned.join(
                self._all_docs_attrs(), "doc_id", "left_semi"
            ).select(
                "doc_id",
                F.lit(0).alias("_grp"),
                F.col("_ord").cast("double").alias("_key"),
            )
            organic = pinned_live.unionByName(organic)
        w = Window.orderBy("_grp", "_key", "doc_id")
        return (
            organic.select("doc_id", F.row_number().over(w).alias("rank"))
            .where(F.col("rank") <= k)
            .orderBy("rank")
        )

    def topk_distance_feature(
        self,
        query_text: str,
        attrs: DataFrame,
        col: str,
        origin: float,
        pivot: float,
        k: int = 10,
        boost: float = 1.0,
        allowed: DataFrame | None = None,
        excluded: DataFrame | None = None,
    ) -> DataFrame:
        """ES ``distance_feature`` query composed in a bool SHOULD over a
        scored match (its canonical use — "boost by recency/proximity"):

            score = BM25(query) + boost · pivot / (pivot + |x − origin|)

        with ``x = attrs[col]`` (numeric; pass dates as epoch). A doc
        missing the feature gets NO contribution (in a should, the
        non-matching distance_feature clause adds 0 — the ES contract).
        Unlike ``function_score``, ES keeps distance_feature skippable
        because its contribution is bounded by ``boost``; the distributed
        analogue here is ONE full-match-set BM25 aggregation + one left
        attr join + a codegen expression (the bound could thread into the
        block-max kernel as a +boost score ceiling — not needed at the
        measured scales)."""
        if pivot <= 0:
            raise ValueError(f"pivot must be > 0, got {pivot}")
        if boost < 0:
            raise ValueError(f"boost must be >= 0, got {boost}")
        plan = self._plan(query_text)
        if plan is None:
            return _empty_topk(self.spark)
        idfs, blocks, _ = plan
        flat = self._mask(flat_postings(blocks), allowed, excluded)
        scored = self._bm25_scored(flat, idfs)
        x = self._attr_col(attrs, col).cast("double")
        joined = scored.join(
            attrs.select("doc_id", x.alias("_dfv")), "doc_id", "left"
        )
        contrib = (
            F.lit(float(boost))
            * F.lit(float(pivot))
            / (
                F.lit(float(pivot))
                + F.abs(F.col("_dfv") - F.lit(float(origin)))
            )
        )
        return (
            joined.select(
                "doc_id",
                (F.col("score") + F.coalesce(contrib, F.lit(0.0)))
                .alias("score"),
            )
            .orderBy(F.desc("score"), F.asc("doc_id"))
            .limit(k)
        )

    _RANK_FEATURE_FNS = ("saturation", "log", "sigmoid")

    def topk_rank_feature(
        self,
        attrs: DataFrame,
        col: str,
        k: int = 10,
        function: str = "saturation",
        pivot: float | None = None,
        boost: float = 1.0,
        scaling_factor: float = 1.0,
        exponent: float = 0.6,
    ) -> DataFrame:
        """Standalone ES ``rank_feature`` query: rank live docs purely by
        a static positive feature (pagerank / url_length / popularity)
        through one of the ES functions

            saturation: S = x / (x + pivot)
            log:        S = ln(scaling_factor · x + 1)
            sigmoid:    S = x^exp / (x^exp + pivot^exp)

        score = boost · S. Only docs HAVING the feature match (ES:
        rank_feature doesn't match docs missing the field), and values
        must be positive (the ES rank_feature field contract — violators
        raise here rather than silently corrupting the monotonicity the
        functions assume). ``pivot=None`` with saturation uses the ES
        default: the feature's geometric mean — exact here
        (``exp(avg(ln x))``, one tiny extra agg) where ES approximates
        from index stats. Returns ``(doc_id, score)``.

        Plan: one roster semi-join of the attrs scan + the codegen
        expression + TakeOrdered — no postings read at all (the feature
        IS the ranking)."""
        if function not in self._RANK_FEATURE_FNS:
            raise ValueError(
                f"function must be one of {self._RANK_FEATURE_FNS}, got "
                f"{function!r}"
            )
        if boost < 0:
            raise ValueError(f"boost must be >= 0, got {boost}")
        x = self._attr_col(attrs, col).cast("double")
        live = (
            attrs.select("doc_id", x.alias("_x"))
            .where(F.col("_x").isNotNull())
            .join(self._all_docs_attrs(), "doc_id", "left_semi")
        )
        xv = F.col("_x")
        if function == "sigmoid":
            if pivot is None:
                raise ValueError("sigmoid needs an explicit pivot")
            if exponent <= 0:
                raise ValueError(f"exponent must be > 0, got {exponent}")
        if function == "saturation" and pivot is None:
            row = live.agg(F.exp(F.avg(F.log(xv))).alias("gm")).first()
            pivot = float(row["gm"]) if row["gm"] is not None else None
            if pivot is None:
                return _empty_topk(self.spark)
        if function != "log" and (pivot is None or pivot <= 0):
            raise ValueError(f"pivot must be > 0, got {pivot}")
        if function == "saturation":
            s = xv / (xv + F.lit(float(pivot)))
        elif function == "log":
            if scaling_factor <= 0:
                raise ValueError(
                    f"scaling_factor must be > 0, got {scaling_factor}"
                )
            s = F.log1p(F.lit(float(scaling_factor)) * xv)
        else:
            p = F.pow(xv, F.lit(float(exponent)))
            s = p / (p + F.lit(float(pivot) ** float(exponent)))
        # positivity check rides the scoring scan (no separate validation
        # pass over a 100 TB attrs table): a non-positive feature value
        # fails the job with the contract message
        s = F.when(
            xv <= 0,
            F.raise_error(
                F.lit(f"rank_feature values must be > 0 (column {col!r})")
            ),
        ).otherwise(s)
        return (
            live.select("doc_id", (F.lit(float(boost)) * s).alias("score"))
            .orderBy(F.desc("score"), F.asc("doc_id"))
            .limit(k)
        )

    def topk_collapse(
        self,
        query_text: str,
        attrs: DataFrame,
        col: str,
        k: int = 10,
        allowed: DataFrame | None = None,
        excluded: DataFrame | None = None,
    ) -> DataFrame:
        """ES field collapsing (``collapse.field``): the top-k hits with
        at most ONE hit per distinct value of ``attrs[col]`` — the best
        (score desc, doc_id asc) representative of each group. Docs with
        a NULL / absent collapse key form one shared null group (Lucene's
        CollapsingTopDocsCollector missing-value bucket). Returns
        ``(doc_id, score, <col>)``.

        Plan: ONE full-match-set BM25 aggregation + left join to attrs +
        one window (partitionBy key, row_number over the score order) +
        global top-k — group selection never runs per-group jobs and the
        window shuffle is keyed by the collapse field, so group skew is
        bounded by the biggest group's matching docs, not the corpus."""
        plan = self._plan(query_text)
        if plan is None:
            return attrs.select(
                F.lit(0).cast("long").alias("doc_id"),
                F.lit(0.0).alias("score"),
                self._attr_col(attrs, col),
            ).limit(0)
        idfs, blocks, _ = plan
        flat = self._mask(flat_postings(blocks), allowed, excluded)
        scored = self._bm25_scored(flat, idfs)
        v = self._attr_col(attrs, col)
        joined = scored.join(
            attrs.select("doc_id", v.alias("_ckey")), "doc_id", "left"
        )
        from pyspark.sql.window import Window

        w = Window.partitionBy("_ckey").orderBy(
            F.desc("score"), F.asc("doc_id")
        )
        return (
            joined.withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") == 1)
            .select("doc_id", "score", F.col("_ckey").alias(col))
            .orderBy(F.desc("score"), F.asc("doc_id"))
            .limit(k)
        )

    def suggest_term(
        self,
        term: str,
        max_edits: int = 2,
        size: int = 5,
        min_doc_freq: int = 1,
        suggest_mode: str = "missing",
    ) -> DataFrame:
        """ES term suggester ("did you mean"): dictionary terms within
        ``max_edits`` Levenshtein edits of the (analyzed) input, ranked
        the ES way — ascending edit distance, then descending document
        frequency, then term — as ``(term, distance, df)`` rows.
        ``suggest_mode='missing'`` (the ES default) returns nothing when
        the input term itself exists in the index; ``'always'`` always
        suggests. The input term is never its own suggestion.

        Plan: the same vocabulary-scan shape as ``expand_fuzzy`` — a
        column-pruned dictionary scan with a JVM ``levenshtein`` + length
        band predicate and a sorted TakeOrdered limit; the dictionary is
        vocabulary-sized, never the postings."""
        toks = self._tok(term)
        if len(toks) != 1:
            raise ValueError(
                f"suggest input must analyze to one token, got {toks!r}"
            )
        if suggest_mode not in ("missing", "always"):
            raise ValueError(
                f"suggest_mode must be missing or always, got "
                f"{suggest_mode!r}"
            )
        t = toks[0]
        out_cols = [
            F.col("term"),
            F.levenshtein(F.col("term"), F.lit(t)).alias("distance"),
            F.col("df").cast("long").alias("df"),
        ]
        if suggest_mode == "missing" and self._term_dfs([t])[t] > 0:
            return self.dictionary.select(*out_cols).limit(0)
        n = len(t)
        cand = (
            self.dictionary
            .where(F.length("term").between(n - max_edits, n + max_edits))
            .where(F.col("term") != t)
            .where(F.col("df") >= int(min_doc_freq))
            .select(*out_cols)
            .where(F.col("distance") <= int(max_edits))
        )
        return cand.orderBy(
            F.asc("distance"), F.desc("df"), F.asc("term")
        ).limit(size)

    def suggest_completion(
        self,
        prefix: str,
        size: int = 5,
        min_doc_freq: int = 1,
    ) -> DataFrame:
        """ES completion-suggester analogue (search-as-you-type term
        completion): dictionary terms starting with the analyzed
        ``prefix``, ranked by weight — document frequency here, ES's
        default when no explicit per-suggestion weight is supplied — then
        term asc, as ``(term, df)`` rows. The input term CAN be its own
        completion (unlike the term suggester: "qu" → "quantum" must
        include an exact "qu" token if indexed).

        Plan: a column-pruned dictionary scan (StartsWith pushed to
        parquet) + sorted TakeOrdered — vocabulary-sized, postings never
        touched, the same shape as ``expand_prefix``. ES builds a
        dedicated FST for this; at 10^12 docs the dictionary IS the FST
        analogue (one row per term, not per posting)."""
        toks = self._tok(prefix)
        if len(toks) != 1:
            raise ValueError(
                f"completion prefix must analyze to one token, got {toks!r}"
            )
        return (
            self.dictionary
            .where(F.col("term").startswith(toks[0]))
            .where(F.col("df") >= int(min_doc_freq))
            .select("term", F.col("df").cast("long").alias("df"))
            .orderBy(F.desc("df"), F.asc("term"))
            .limit(size)
        )

    def suggest_phrase(
        self,
        text: str,
        size: int = 5,
        max_edits: int = 2,
        candidates_per_term: int = 5,
        min_doc_freq: int = 1,
        alpha: float = 0.4,
        max_positions: int = 5,
    ) -> DataFrame:
        """ES ``phrase`` suggester ("did you mean" over WHOLE phrases):
        per-position candidate corrections from the term suggester's
        vocabulary scan (the input term is also a candidate when it
        exists in the index), every candidate phrase scored by a
        stupid-backoff word-bigram language model read from the INDEX'S
        OWN position streams (ES reads a shingle field / index stats —
        same information)::

            score(w_1..w_n) = ln P(w_1) + Σ_i ln P_sb(w_i | w_{i-1})
            P(w)        = cf(w) / total_tokens
            P_sb(w | v) = count(v·w) / cf(v)        if the bigram occurs
                        = α · cf(w) / total_tokens  otherwise (backoff)

        with ``cf`` the corpus term frequency (dictionary), ``count(v·w)``
        the corpus adjacent-occurrence count, and α the ES
        ``stupid_backoff`` discount (default 0.4). The exact input phrase
        is never suggested (ES returns corrections). Returns
        ``(phrase, score)`` — score desc, phrase asc, top ``size``.

        Plan shape: one vocabulary scan per position (term-suggester
        shape); ONE term-pruned positional decode of ALL candidate terms
        + one self-join on (doc_id, pos+1) filtered to the wanted pairs
        computes every bigram count together; enumeration/scoring of the
        ≤ candidates^positions phrase product is driver-side and
        query-sized (the ES collate step is too). Tombstoned docs are
        masked from the bigram counts; cf/df are dictionary-level and
        count not-yet-compacted deletes, like ES."""
        toks = self._tok(text)
        if not 1 <= len(toks) <= max_positions:
            raise ValueError(
                f"phrase suggest input must analyze to 1..{max_positions} "
                f"tokens, got {toks!r}"
            )
        if not 0 < alpha <= 1:
            raise ValueError(f"alpha must be in (0, 1], got {alpha}")
        dfs = self._term_dfs(toks)
        cands: list[list[str]] = []
        for t in toks:
            cs = [
                r["term"]
                for r in self.suggest_term(
                    t, max_edits=max_edits, size=candidates_per_term,
                    min_doc_freq=min_doc_freq, suggest_mode="always",
                ).collect()
            ]
            if dfs[t] >= min_doc_freq and dfs[t] > 0:
                cs.append(t)
            if not cs:  # an uncorrectable position: no phrase possible
                return self.spark.createDataFrame(
                    [], "phrase string, score double"
                )
            cands.append(sorted(set(cs)))
        terms = sorted({t for cs in cands for t in cs})
        # unigram cf for every candidate + the exact corpus token total
        cf_rows = self._term_entries(terms).select("term", "cf").collect()
        cf = {r["term"]: float(r["cf"]) for r in cf_rows}
        total = float(
            self.dictionary.agg(F.sum("cf").alias("t")).first()["t"] or 0
        )
        if total <= 0:
            return self.spark.createDataFrame(
                [], "phrase string, score double"
            )
        # bigram counts for adjacent-position candidate pairs: one
        # positional decode of the candidate terms, one self-join
        bigram: dict[tuple[str, str], float] = {}
        pairs = {
            (a, b)
            for i in range(len(cands) - 1)
            for a in cands[i]
            for b in cands[i + 1]
        }
        if pairs:
            pos = self._mask(
                flat_postings_positional(self._term_blocks(terms)).select(
                    "term", "doc_id", F.explode("positions").alias("pos")
                )
            )
            a, b = pos.alias("a"), pos.alias("b")
            pair_keys = [f"{x}\x1e{y}" for x, y in sorted(pairs)]
            counted = (
                a.join(
                    b,
                    (F.col("a.doc_id") == F.col("b.doc_id"))
                    & (F.col("b.pos") == F.col("a.pos") + 1),
                )
                .where(
                    F.concat_ws(
                        "\x1e", F.col("a.term"), F.col("b.term")
                    ).isin(pair_keys)
                )
                .groupBy(
                    F.col("a.term").alias("v"), F.col("b.term").alias("w")
                )
                .agg(F.count("*").alias("c"))
                .collect()
            )
            bigram = {(r["v"], r["w"]): float(r["c"]) for r in counted}
        # driver-side enumeration + scoring (query-sized product space)
        import itertools

        scored: list[tuple[str, float]] = []
        for combo in itertools.product(*cands):
            if list(combo) == toks:
                continue  # never suggest the input itself
            s = math.log(cf[combo[0]] / total)
            for v, w in zip(combo, combo[1:]):
                c = bigram.get((v, w), 0.0)
                if c > 0:
                    s += math.log(c / cf[v])
                else:
                    s += math.log(alpha * cf[w] / total)
            scored.append((" ".join(combo), s))
        scored.sort(key=lambda t: (-t[1], t[0]))
        return self.spark.createDataFrame(
            scored[:size], "phrase string, score double"
        )

    def analyze(self, text: str) -> DataFrame:
        """ES ``_analyze`` API: how the Searcher's analyzer tokenizes a
        request-supplied string — ``(token, position, start_offset,
        end_offset)`` rows (the ES response fields; offsets index the
        ORIGINAL text — the token pattern is case-insensitive by
        construction, so matching the un-lowercased text keeps offsets
        exact even for case-folds that change string length, e.g. İ).
        A request-scoped driver-side call, like ES's own _analyze — no
        data is scanned."""
        from ..analysis import _PY_TOKEN_RE, _PY_TOKEN_RE_STANDARD

        pat = (
            _PY_TOKEN_RE_STANDARD if self.analyzer == "standard"
            else _PY_TOKEN_RE
        )
        rows = [
            (m.group().lower(), i, m.start(), m.end())
            for i, m in enumerate(pat.finditer(text or ""))
        ]
        return self.spark.createDataFrame(
            rows,
            "token string, position int, start_offset int, end_offset int",
        )

    def scroll(
        self,
        query_text: str,
        page_size: int = 1000,
        boosts: dict[str, float] | None = None,
        allowed: DataFrame | None = None,
        excluded: DataFrame | None = None,
    ):
        """ES ``scroll`` / point-in-time export: iterate the ENTIRE match
        ranking page by page. Yields each page as a list of Rows
        ``(doc_id, score)`` in global (score desc, doc_id asc) order —
        a driver-paced export loop, which is what ES scroll is; each
        page runs the ``search_after`` cursor plan (O(page_size) heap /
        transfer per doc range at ANY depth — the scale path; never
        from/size's O(depth) per page). A Searcher's frames are
        immutable, so the iteration is a consistent snapshot by
        construction (no PIT keep-alive bookkeeping needed)."""
        if page_size < 1:
            raise ValueError(f"page_size must be >= 1, got {page_size}")
        after = None
        while True:
            rows = self.search_after(
                query_text, k=page_size, after=after,
                allowed=allowed, excluded=excluded, boosts=boosts,
            ).collect()
            if not rows:
                return
            yield rows
            if len(rows) < page_size:
                return
            last = rows[-1]
            after = (last["score"], last["doc_id"])

    def topk_more_like_this(
        self,
        like_text: str,
        k: int = 10,
        max_query_terms: int = 25,
        min_term_freq: int = 1,
        min_doc_freq: int = 1,
        allowed: DataFrame | None = None,
        excluded: DataFrame | None = None,
    ) -> DataFrame:
        """ES ``more_like_this`` with ``like`` given as text: select the
        input's most interesting terms and run them as a BM25 disjunction
        through the θ-pruned fast path. Term interestingness is Lucene
        MoreLikeThis's classic tf·idf:

            score(t) = tf_input(t) · (1 + ln(n_docs / (df(t) + 1)))

        keeping terms with ``tf_input ≥ min_term_freq`` and
        ``df ≥ min_doc_freq`` (and df > 0 — unindexed terms can't
        retrieve), sorted (score desc, term asc), truncated at
        ``max_query_terms`` (ES default 25). Selection runs on the driver
        against the cached dictionary stats (the input is one document's
        text — always tiny); retrieval is the ordinary distributed path.
        ES defaults min_term_freq=2/min_doc_freq=5 assume real-world
        prose; the defaults here are 1 (the contract, not the constants,
        is the parity surface — pass ES's values for ES behavior)."""
        counts: dict[str, int] = {}
        for tok in self._tok(like_text):
            counts[tok] = counts.get(tok, 0) + 1
        cand = {t: c for t, c in counts.items() if c >= min_term_freq}
        if not cand:
            return _empty_topk(self.spark)
        dfs = self._term_dfs(sorted(cand))
        scored_terms = sorted(
            (
                (
                    -c * (1.0 + math.log(self.n_docs / (dfs[t] + 1.0))),
                    t,
                )
                for t, c in cand.items()
                if dfs[t] >= max(min_doc_freq, 1)
            ),
        )[:max_query_terms]
        if not scored_terms:
            return _empty_topk(self.spark)
        terms = [t for _, t in scored_terms]
        return self.topk_blockmax(
            " ".join(sorted(terms)), k, allowed=allowed, excluded=excluded
        )

    _RESCORE_MODES = ("total", "multiply", "avg", "max", "min")

    def topk_rescore(
        self,
        query_text: str,
        rescore_phrase: str,
        k: int = 10,
        window_size: int = 50,
        query_weight: float = 1.0,
        rescore_query_weight: float = 1.0,
        score_mode: str = "total",
        slop: int = 0,
        allowed: DataFrame | None = None,
        excluded: DataFrame | None = None,
    ) -> DataFrame:
        """ES ``rescore`` — re-rank the top ``window_size`` hits of the
        cheap base query with a more expensive phrase query (the classic
        two-stage retrieval: disjunctive BM25 recall, phrase precision):

            new = combine(query_weight·base, rescore_query_weight·phrase)

        ``score_mode`` ∈ total (sum, ES default) | multiply | avg | max |
        min; a window doc NOT matching the rescore query keeps
        ``query_weight·base`` untouched (the ES contract — not a
        combine with 0). Returns the top ``k ≤ window_size`` re-ranked
        hits (doc_id, score).

        Plan: the window comes from the θ-pruned ``topk_blockmax`` (exact
        top-window_size); the phrase scores only ever JOIN against that
        window frame — at any corpus size the expensive positional decode
        is bounded by the window's doc ranges after Catalyst pushes the
        semi-join, which is the entire point of rescoring."""
        if score_mode not in self._RESCORE_MODES:
            raise ValueError(
                f"score_mode must be one of {self._RESCORE_MODES}, got "
                f"{score_mode!r}"
            )
        if k > window_size:
            raise ValueError(
                f"k ({k}) must be <= window_size ({window_size}) — docs "
                "outside the rescore window keep base ordering"
            )
        # materialize the window ONCE (it is reused as both the join base
        # and the phrase allow-list; lazy reuse would re-run the block-max
        # query per consumer). window_size rows is driver-bounded by
        # contract — the same bound ES places on its rescore window.
        wrows = self.topk_blockmax(
            query_text, window_size, allowed=allowed, excluded=excluded
        ).collect()
        if not wrows:
            return _empty_topk(self.spark)
        window = self.spark.createDataFrame(
            [(int(r["doc_id"]), float(r["score"])) for r in wrows],
            "doc_id long, _base double",
        )
        if slop == 0:
            # the window IS the allow-list: every phrase term's decoded
            # frame semi-joins it before the union/groupBy
            resc = self._phrase_scored(rescore_phrase, allowed=window)
        else:
            # sloppy rescore rides the positional top-k path over the
            # window as an allow-list (bounded decode), scored fully
            resc = self.topk_phrase(
                rescore_phrase, window_size, allowed=window, slop=slop
            )
        if resc is None:
            combined = window.select(
                "doc_id",
                (F.col("_base") * F.lit(float(query_weight))).alias("score"),
            )
        else:
            o = F.col("_base") * F.lit(float(query_weight))
            r = F.col("_resc") * F.lit(float(rescore_query_weight))
            mix = {
                "total": o + r,
                "multiply": o * r,
                "avg": (o + r) / 2.0,
                "max": F.greatest(o, r),
                "min": F.least(o, r),
            }[score_mode]
            combined = (
                window.join(
                    resc.select("doc_id", F.col("score").alias("_resc")),
                    "doc_id",
                    "left",
                )
                .select(
                    "doc_id",
                    F.when(F.col("_resc").isNull(), o)
                    .otherwise(mix)
                    .alias("score"),
                )
            )
        return combined.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)

    def terms_agg(
        self,
        query_text: str,
        attrs: DataFrame,
        facet_col: str,
        metrics: list[tuple[str, str, str]] | None = None,
        size: int = 10,
    ) -> DataFrame:
        """ES ``terms`` aggregation WITH sub-aggregations — the
        bread-and-butter Kibana table: top-``size`` buckets of
        ``attrs[facet_col]`` over the match set (count desc, value asc —
        the ES order), each carrying metric sub-aggregations
        ``(out_name, fn, col)`` with ``fn`` ∈ avg | min | max | sum |
        value_count over another attribute (nulls excluded per metric,
        ES semantics). Returns ``(value, doc_count, <out_name>...)``.

        Plan: ONE decode + ONE groupBy computes every bucket's count and
        all sub-metrics together (no per-bucket jobs); bucket selection
        is a TakeOrdered over the aggregated frame. At 10^12 docs the
        groupBy is the same shuffle the count-only facet runs — the
        sub-metrics are free map-side-combined columns."""
        fns = {
            "avg": F.avg, "min": F.min, "max": F.max, "sum": F.sum,
            "value_count": F.count,
        }
        metrics = list(metrics or [])
        aggs = [F.count("*").alias("doc_count")]
        for name, fn, col in metrics:
            if fn not in fns:
                raise ValueError(
                    f"metric fn must be one of {sorted(fns)}, got {fn!r}"
                )
            aggs.append(
                fns[fn](self._attr_col(attrs, col).cast("double"))
                .alias(name)
            )
        fkey = self._attr_col(attrs, facet_col)
        out_names = [n for n, _, _ in metrics]
        matched = self._matched_docs(query_text)
        if matched is None:
            return (
                attrs.select(
                    fkey.alias("value"),
                    F.lit(0).cast("long").alias("doc_count"),
                    *[F.lit(0.0).alias(n) for n in out_names],
                ).limit(0)
            )
        return (
            matched.join(attrs, "doc_id", "inner")
            .where(fkey.isNotNull())
            .groupBy(fkey.alias("value"))
            .agg(*aggs)
            .orderBy(F.desc("doc_count"), F.asc("value"))
            .limit(size)
        )

    def match_count(self, query_text: str) -> DataFrame:
        """ES ``_count``: the number of LIVE docs matching the query (OR
        match semantics, tombstones masked) as a one-row ``(n long)``
        frame — one term-pruned decode + one count, no scoring, no
        top-k machinery."""
        matched = self._matched_docs(query_text)
        if matched is None:
            return self.spark.range(1).select(
                F.lit(0).cast("long").alias("n")
            )
        return matched.agg(F.count("*").cast("long").alias("n"))

    def explain(self, query_text: str, doc_id: int) -> DataFrame:
        """ES ``_explain`` API: the per-term score breakdown of ONE doc
        for a (disjunctive) match query — ``(term, tf, df, idf, dl,
        contribution)`` rows, one per query term present in the doc,
        ordered by term; sum(contribution) is exactly the doc's
        ``topk_dataframe``/``topk_blockmax`` score (same formula, same
        float64 accumulation). Empty when the doc matches no term or is
        tombstoned. The relational rendering of ES's explanation tree
        (each row = one TermQuery leaf: "score(freq=tf), computed as
        boost * idf * tf-norm from ...").

        Plan shape: the block scan prunes to the query's terms AND the
        doc's single range partition (``range_id = doc_id >> range_bits``
        — a literal predicate under the decode, so one doc's explain
        reads a handful of blocks out of 10^12 docs), then one decode +
        one broadcast idf join; no shuffle, no top-k."""
        plan = self._plan(query_text)
        empty = self.spark.createDataFrame(
            [],
            "term string, tf long, df long, idf double, dl long, "
            "contribution double",
        )
        if plan is None:
            return empty
        idfs, blocks, meta = plan
        doc_id = int(doc_id)
        blocks = blocks.where(
            F.col("range_id") == F.lit(doc_id >> self.range_bits)
        )
        flat = self._mask(flat_postings(blocks)).where(
            F.col("doc_id") == F.lit(doc_id)
        )
        stats = F.broadcast(
            self.spark.createDataFrame(
                sorted(
                    (t, meta[t][0], idf) for t, idf in idfs.items()
                ),
                "term string, df long, idf double",
            )
        )
        contribution = (
            F.col("idf")
            * F.col("tf")
            * (codec.K1 + 1.0)
            / (
                F.col("tf")
                + codec.K1
                * (1.0 - codec.B + codec.B * F.col("dl") / F.lit(self.avgdl))
            )
        )
        return (
            flat.join(stats, "term")
            .select(
                "term", "tf", "df", "idf", "dl",
                contribution.alias("contribution"),
            )
            .orderBy("term")
        )

    @staticmethod
    def _attr_col(attrs: DataFrame, col: str):
        """attrs column by name with fail-fast validation and canonical
        backtick quoting (hostile names can't break or inject the plan)."""
        if col not in attrs.columns:
            raise ValueError(f"column {col!r} not in attrs {attrs.columns}")
        return F.col("`" + col.replace("`", "``") + "`")

    def histogram_agg(
        self,
        query_text: str,
        attrs: DataFrame,
        col: str,
        interval: float,
    ) -> DataFrame:
        """ES ``histogram`` aggregation over the query's full match set:
        fixed-``interval`` buckets of a numeric attribute, keyed by
        ``bucket = floor(value / interval) * interval``, with matching-doc
        counts. ES semantics: docs missing the field (null) fall out; only
        non-empty buckets return (``min_doc_count: 1``). One decode + one
        join + one groupBy — the aggregation never touches posting bytes
        beyond the match-set decode."""
        if interval <= 0:
            raise ValueError(f"interval must be > 0, got {interval}")
        out_schema = "bucket double, doc_count long"
        matched = self._matched_docs(query_text)
        if matched is None:
            return self.spark.createDataFrame([], out_schema)
        v = self._attr_col(attrs, col).cast("double")
        return (
            matched.join(attrs, "doc_id", "inner")
            .where(v.isNotNull())
            .select(
                (F.floor(v / F.lit(float(interval))) * F.lit(float(interval)))
                .cast("double")
                .alias("bucket")
            )
            .groupBy("bucket")
            .agg(F.count("*").alias("doc_count"))
            .orderBy("bucket")
        )

    def stats_agg(
        self, query_text: str, attrs: DataFrame, col: str
    ) -> DataFrame:
        """ES ``stats`` aggregation over the match set: one row of
        (count, min, max, sum, avg) for a numeric attribute — nulls
        excluded from every statistic, exactly ES. One aggregation job."""
        out_schema = (
            "count long, min double, max double, sum double, avg double"
        )
        matched = self._matched_docs(query_text)
        if matched is None:
            return self.spark.createDataFrame([], out_schema)
        v = self._attr_col(attrs, col).cast("double")
        return (
            matched.join(attrs, "doc_id", "inner")
            .where(v.isNotNull())
            .agg(
                F.count("*").alias("count"),
                F.min(v).alias("min"),
                F.max(v).alias("max"),
                F.sum(v).alias("sum"),
                F.avg(v).alias("avg"),
            )
        )

    def extended_stats_agg(
        self,
        query_text: str,
        attrs: DataFrame,
        col: str,
        sigma: float = 2.0,
    ) -> DataFrame:
        """ES ``extended_stats`` aggregation over the match set: the
        ``stats`` row plus sum_of_squares, variance, std_deviation and
        the ±``sigma`` std_deviation_bounds. ES computes POPULATION
        variance/std (sum_of_sq/n − mean²) — ``var_pop``/``stddev_pop``
        here, same in the DuckDB twin. Nulls excluded from every
        statistic (ES). One aggregation job, all columns in the same
        map-side-combined pass."""
        if sigma < 0:
            raise ValueError(f"sigma must be >= 0, got {sigma}")
        out_schema = (
            "count long, min double, max double, sum double, avg double, "
            "sum_of_squares double, variance double, std_deviation double, "
            "std_upper double, std_lower double"
        )
        matched = self._matched_docs(query_text)
        if matched is None:
            return self.spark.createDataFrame([], out_schema)
        v = self._attr_col(attrs, col).cast("double")
        sg = F.lit(float(sigma))
        return (
            matched.join(attrs, "doc_id", "inner")
            .where(v.isNotNull())
            .agg(
                F.count("*").alias("count"),
                F.min(v).alias("min"),
                F.max(v).alias("max"),
                F.sum(v).alias("sum"),
                F.avg(v).alias("avg"),
                F.sum(v * v).alias("sum_of_squares"),
                F.var_pop(v).alias("variance"),
                F.stddev_pop(v).alias("std_deviation"),
            )
            .select(
                "*",
                (F.col("avg") + sg * F.col("std_deviation"))
                .alias("std_upper"),
                (F.col("avg") - sg * F.col("std_deviation"))
                .alias("std_lower"),
            )
        )

    def weighted_avg_agg(
        self,
        query_text: str,
        attrs: DataFrame,
        value_col: str,
        weight_col: str,
    ) -> DataFrame:
        """ES ``weighted_avg`` aggregation over the match set:
        Σ(value·weight) / Σ(weight). ES skips docs missing the VALUE and
        treats a missing WEIGHT as 1 — both honored here (null value →
        row drops; null weight → 1.0). One aggregation job."""
        out_schema = "value double"
        matched = self._matched_docs(query_text)
        if matched is None:
            return self.spark.createDataFrame([], out_schema)
        v = self._attr_col(attrs, value_col).cast("double")
        w = F.coalesce(
            self._attr_col(attrs, weight_col).cast("double"), F.lit(1.0)
        )
        return (
            matched.join(attrs, "doc_id", "inner")
            .where(v.isNotNull())
            .agg(
                (F.sum(v * w) / F.sum(w)).alias("value")
            )
        )

    def missing_agg(
        self, query_text: str, attrs: DataFrame, col: str
    ) -> DataFrame:
        """ES ``missing`` aggregation: how many docs of the match set
        have NO value for the field — the complement of
        ``exists_filter``, as a count. Docs with no attrs row at all are
        missing too (left join), exactly ES's no-field docs. One
        aggregation job."""
        out_schema = "doc_count long"
        matched = self._matched_docs(query_text)
        if matched is None:
            return self.spark.createDataFrame([], out_schema)
        v = self._attr_col(attrs, col)
        return (
            matched.join(
                attrs.select("doc_id", v.alias("_mv")), "doc_id", "left"
            )
            .agg(
                F.sum(F.when(F.col("_mv").isNull(), 1).otherwise(0))
                .cast("long")
                .alias("doc_count")
            )
        )

    def percentiles_agg(
        self,
        query_text: str,
        attrs: DataFrame,
        col: str,
        percents: tuple[float, ...] = (1, 5, 25, 50, 75, 95, 99),
        exact: bool = True,
    ) -> DataFrame:
        """ES ``percentiles`` aggregation over the match set (default
        percents = the ES default set). ES computes approximate
        percentiles with TDigest; here ``exact=True`` (default) uses
        Spark's exact ``percentile`` — linear interpolation between
        closest ranks, value-identical to DuckDB ``quantile_cont`` (the
        oracle) — and ``exact=False`` uses ``percentile_approx``
        (positive-error quantile sketch, one pass, bounded memory — the
        100 TB shape, same family as ES's tdigest). Nulls drop (ES).
        Returns ``(percent, value)`` rows ordered by percent — one
        aggregation job producing the whole array, then a zero-shuffle
        posexplode."""
        out_schema = "percent double, value double"
        ps = [float(p) for p in percents]
        if not ps or any(p < 0 or p > 100 for p in ps):
            raise ValueError(f"percents must be in [0, 100], got {percents}")
        matched = self._matched_docs(query_text)
        if matched is None:
            return self.spark.createDataFrame([], out_schema)
        v = self._attr_col(attrs, col).cast("double")
        fracs = F.array(*[F.lit(p / 100.0) for p in ps])
        agg = (
            F.percentile(v, fracs) if exact
            else F.percentile_approx(v, fracs, 10_000)
        )
        return (
            matched.join(attrs, "doc_id", "inner")
            .where(v.isNotNull())
            .agg(agg.alias("_vals"))
            .select(F.posexplode("_vals").alias("_i", "value"))
            .select(
                F.element_at(
                    F.array(*[F.lit(p) for p in ps]), F.col("_i") + 1
                ).alias("percent"),
                "value",
            )
            .orderBy("percent")
        )

    def cardinality_agg(
        self,
        query_text: str,
        attrs: DataFrame,
        col: str,
        exact: bool = False,
        rsd: float = 0.05,
    ) -> DataFrame:
        """ES ``cardinality`` aggregation over the match set: distinct
        values of an attribute among matching docs. ES uses HyperLogLog++
        — the default here is Spark's same-family
        ``approx_count_distinct`` (``rsd`` ≙ ES ``precision_threshold``
        tuning); ``exact=True`` runs the exact countDistinct (the oracle
        path — a full shuffle of the distinct values, fine at test scale,
        the approx path is the 100 TB shape)."""
        out_schema = "value long"
        matched = self._matched_docs(query_text)
        if matched is None:
            return self.spark.createDataFrame([], out_schema)
        v = self._attr_col(attrs, col)
        joined = matched.join(attrs, "doc_id", "inner").where(v.isNotNull())
        agg = (
            F.count_distinct(v) if exact else F.approx_count_distinct(v, rsd)
        )
        return joined.agg(agg.cast("long").alias("value"))

    def percentile_ranks_agg(
        self,
        query_text: str,
        attrs: DataFrame,
        col: str,
        values: tuple[float, ...],
    ) -> DataFrame:
        """ES ``percentile_ranks`` aggregation over the match set: for
        each given value ``v``, the percentage of observed attribute
        values at or below it — the midpoint-CDF convention ES's TDigest
        sketch estimates, computed EXACTLY here::

            percent(v) = 100 · (#{x < v} + 0.5·#{x = v}) / n

        (the quantity tdigest's ``cdf`` converges to; values below the
        observed min give 0, above the max 100). NULL attribute rows
        drop (ES). Returns ``(value, percent)`` ordered by value.

        Plan: ONE conditional-aggregation pass over the match-set join —
        2·len(values)+1 map-side-combined counters, no sort, no
        per-value jobs; the inverse of ``percentiles_agg`` with the same
        single-aggregation shape."""
        out_schema = "value double, percent double"
        vs = [float(v) for v in values]
        if not vs:
            raise ValueError("values must be non-empty")
        matched = self._matched_docs(query_text)
        if matched is None:
            return self.spark.createDataFrame([], out_schema)
        x = self._attr_col(attrs, col).cast("double")
        one = F.lit(1).cast("long")
        aggs = [F.count("*").alias("_n")]
        for i, v in enumerate(vs):
            aggs.append(
                F.sum(F.when(x < F.lit(v), one).otherwise(0)).alias(f"_lt{i}")
            )
            aggs.append(
                F.sum(F.when(x == F.lit(v), one).otherwise(0)).alias(f"_eq{i}")
            )
        pct = F.array(*[
            F.lit(100.0)
            * (F.col(f"_lt{i}") + F.lit(0.5) * F.col(f"_eq{i}"))
            / F.col("_n")
            for i in range(len(vs))
        ])
        return (
            matched.join(attrs, "doc_id", "inner")
            .where(x.isNotNull())
            .agg(*aggs)
            .where(F.col("_n") > 0)
            .select(F.posexplode(pct).alias("_i", "percent"))
            .select(
                F.element_at(
                    F.array(*[F.lit(v) for v in vs]), F.col("_i") + 1
                ).alias("value"),
                "percent",
            )
            .orderBy("value")
        )

    def rare_terms_agg(
        self,
        query_text: str,
        attrs: DataFrame,
        col: str,
        max_doc_count: int = 1,
    ) -> DataFrame:
        """ES ``rare_terms`` aggregation: the long-tail complement of
        ``terms_agg`` — buckets of ``attrs[col]`` over the match set
        whose doc_count is AT MOST ``max_doc_count`` (ES bounds it to
        [1, 100]), ordered rarest-first (doc_count asc, value asc).
        ES approximates membership with a CuckooFilter to bound memory;
        here the exact groupBy + HAVING is one map-side-combined shuffle
        and the RESULT is small by construction (only rare values
        survive), so the exact form scales. Nulls drop (ES). Returns
        ``(value, doc_count)``."""
        if not 1 <= int(max_doc_count) <= 100:
            raise ValueError(
                f"max_doc_count must be in [1, 100], got {max_doc_count}"
            )
        fkey = self._attr_col(attrs, col)
        matched = self._matched_docs(query_text)
        if matched is None:
            return attrs.select(
                fkey.alias("value"), F.lit(0).cast("long").alias("doc_count")
            ).limit(0)
        return (
            matched.join(attrs, "doc_id", "inner")
            .where(fkey.isNotNull())
            .groupBy(fkey.alias("value"))
            .agg(F.count("*").alias("doc_count"))
            .where(F.col("doc_count") <= int(max_doc_count))
            .orderBy(F.asc("doc_count"), F.asc("value"))
        )

    def multi_terms_agg(
        self,
        query_text: str,
        attrs: DataFrame,
        cols: list[str],
        metrics: list[tuple[str, str, str]] | None = None,
        size: int = 10,
    ) -> DataFrame:
        """ES ``multi_terms`` aggregation: compound-key buckets over the
        match set — top-``size`` by doc_count desc, ties broken by each
        key component ascending in order (the ES compound-key order). A
        doc missing ANY key component joins no bucket (the ES contract:
        every source must yield a value). Metric sub-aggregations as in
        ``terms_agg``. Returns ``(<cols...>, doc_count[, <metrics>...])``.

        Plan: identical to ``terms_agg`` — ONE decode + ONE groupBy on
        the compound key computes counts and all sub-metrics together;
        bucket selection is a TakeOrdered over the aggregated frame."""
        if len(cols) < 2:
            raise ValueError(f"multi_terms needs >= 2 key columns: {cols}")
        fns = {
            "avg": F.avg, "min": F.min, "max": F.max, "sum": F.sum,
            "value_count": F.count,
        }
        metrics = list(metrics or [])
        aggs = [F.count("*").alias("doc_count")]
        for name, fn, mcol in metrics:
            if fn not in fns:
                raise ValueError(
                    f"metric fn must be one of {sorted(fns)}, got {fn!r}"
                )
            aggs.append(
                fns[fn](self._attr_col(attrs, mcol).cast("double"))
                .alias(name)
            )
        keys = [self._attr_col(attrs, c) for c in cols]
        matched = self._matched_docs(query_text)
        if matched is None:
            # typed per metric fn: value_count is BIGINT on the matched
            # path (F.count), every other metric DOUBLE — the two
            # branches must return the same schema (round-6 ADVICE)
            empty_lits = [
                (F.lit(0).cast("long") if fn == "value_count" else F.lit(0.0))
                .alias(n)
                for n, fn, _ in metrics
            ]
            return attrs.select(
                *[k.alias(c) for k, c in zip(keys, cols)],
                F.lit(0).cast("long").alias("doc_count"),
                *empty_lits,
            ).limit(0)
        joined = matched.join(attrs, "doc_id", "inner")
        for k in keys:
            joined = joined.where(k.isNotNull())
        return (
            joined.groupBy(*[k.alias(c) for k, c in zip(keys, cols)])
            .agg(*aggs)
            .orderBy(F.desc("doc_count"), *[F.asc(c) for c in cols])
            .limit(size)
        )

    def range_agg(
        self,
        query_text: str,
        attrs: DataFrame,
        col: str,
        ranges: list[dict],
    ) -> DataFrame:
        """ES ``range`` aggregation over the match set: explicit buckets
        ``[{"key"?, "from"?, "to"?}, ...]`` — ``from`` inclusive, ``to``
        exclusive, overlapping ranges each count independently, and EVERY
        specified bucket returns even when empty (doc_count 0) — the
        three ways it differs from ``histogram``. Default keys follow
        ES: ``"from-to"`` with ``*`` for an open side.

        Plan: one conditional aggregation — each bucket is a
        ``sum(when(cond, 1))`` on the SAME single agg over the joined
        match set, then one explode back to bucket rows. No per-bucket
        job, no crossJoin, all JVM."""
        parsed = []
        for r in ranges:
            lo, hi = r.get("from"), r.get("to")
            if lo is None and hi is None:
                raise ValueError(f"range needs from and/or to: {r!r}")
            key = r.get("key") or (
                f"{'*' if lo is None else float(lo)}-"
                f"{'*' if hi is None else float(hi)}"
            )
            parsed.append(
                (key, None if lo is None else float(lo),
                 None if hi is None else float(hi))
            )
        if not parsed:
            raise ValueError("ranges must be non-empty")
        matched = self._matched_docs(query_text)
        if matched is None:
            counts = [F.lit(0).cast("long").alias(f"_c{i}")
                      for i in range(len(parsed))]
            base = self.spark.range(1).select(*counts)
        else:
            v = self._attr_col(attrs, col).cast("double")
            joined = matched.join(attrs, "doc_id", "inner").where(
                v.isNotNull()
            )
            aggs = []
            for i, (_k, lo, hi) in enumerate(parsed):
                cond = F.lit(True)
                if lo is not None:
                    cond = cond & (v >= F.lit(lo))
                if hi is not None:
                    cond = cond & (v < F.lit(hi))
                aggs.append(
                    F.sum(F.when(cond, 1).otherwise(0))
                    .cast("long")
                    .alias(f"_c{i}")
                )
            base = joined.agg(*aggs)
        buckets = F.array(
            *[
                F.struct(
                    F.lit(k).alias("key"),
                    F.lit(lo).cast("double").alias("from"),
                    F.lit(hi).cast("double").alias("to"),
                    F.coalesce(F.col(f"_c{i}"), F.lit(0))
                    .cast("long")
                    .alias("doc_count"),
                )
                for i, (k, lo, hi) in enumerate(parsed)
            ]
        )
        return base.select(F.explode(buckets).alias("_b")).select(
            "_b.key", "_b.from", "_b.to", "_b.doc_count"
        )

    def date_histogram_agg(
        self,
        query_text: str,
        attrs: DataFrame,
        ts_col: str,
        calendar_interval: str | None = None,
        fixed_interval_s: int | None = None,
        min_doc_count: int = 0,
        time_zone: str | None = None,
    ) -> DataFrame:
        """ES ``date_histogram`` aggregation UNDER a query (the missing
        composition flagged by the round-4 verdict): time buckets with
        matching-doc counts over the query's full match set, sharing the
        ``_matched_docs`` base with the other five aggregations — one
        match-set decode + one join, then the standalone
        ``operators.analytics.date_histogram`` (which stays for
        streaming/batch parity over arbitrary frames). ``time_zone`` is
        the ES parameter: calendar buckets in the named zone, keys
        returned as UTC instants. Returns ``(bucket, doc_count)``."""
        from ..operators.analytics import date_histogram

        matched = self._matched_docs(query_text)
        if matched is None:
            return self.spark.createDataFrame(
                [], "bucket timestamp, doc_count long"
            )
        self._attr_col(attrs, ts_col)  # fail-fast validation
        joined = matched.join(attrs, "doc_id", "inner")
        return date_histogram(
            joined,
            ts_col,
            calendar_interval=calendar_interval,
            fixed_interval_s=fixed_interval_s,
            min_doc_count=min_doc_count,
            time_zone=time_zone,
        )

    # ES auto_date_histogram rounding ladder: (label, estimate seconds,
    # kind). Months+ bucket on CALENDAR boundaries; the ladder CHOICE uses
    # fixed-second estimates (30 d months, 90 d quarters, 365 d years —
    # ES's own estimator is the same shape). Capped at year: ES continues
    # to 5/10/20/50/100 y, so a multi-century span here returns more than
    # `buckets` year rows instead of a fixed multi-year approximation.
    _AUTO_LADDER: tuple = (
        ("1s", 1, "fixed"), ("5s", 5, "fixed"), ("10s", 10, "fixed"),
        ("30s", 30, "fixed"),
        ("1m", 60, "fixed"), ("5m", 300, "fixed"), ("10m", 600, "fixed"),
        ("30m", 1800, "fixed"),
        ("1h", 3600, "fixed"), ("3h", 10800, "fixed"),
        ("12h", 43200, "fixed"),
        ("1d", 86400, "fixed"), ("7d", 604800, "fixed"),
        ("month", 2_592_000, "calendar"),
        ("quarter", 7_776_000, "calendar"),
        ("year", 31_536_000, "calendar"),
    )

    def auto_date_histogram_agg(
        self,
        query_text: str,
        attrs: DataFrame,
        ts_col: str,
        buckets: int = 10,
        time_zone: str | None = None,
    ) -> DataFrame:
        """ES ``auto_date_histogram``: pick the smallest rounding from the
        ES ladder (1s…30s, 1m…30m, 1h/3h/12h, 1d/7d, month/quarter/year)
        whose estimated bucket count ``floor(span/interval) + 1`` fits the
        ``buckets`` target, then run the ordinary ``date_histogram`` at
        that interval (calendar buckets for month and up, zero-filled
        spine). Returns ``(bucket, doc_count, interval)`` — the chosen
        interval rides along like ES's response ``interval`` field.

        Plan: ONE tiny min/max aggregation over the match-set join picks
        the interval on the driver (two timestamps — bounded), then the
        shared ``date_histogram_agg`` path runs once. Never iterates
        intervals against the data (ES reshards its collector; here the
        estimate decides up front)."""
        if buckets < 1:
            raise ValueError(f"buckets must be >= 1, got {buckets}")
        out_schema = "bucket timestamp, doc_count long, interval string"
        matched = self._matched_docs(query_text)
        if matched is None:
            return self.spark.createDataFrame([], out_schema)
        v = self._attr_col(attrs, ts_col).cast("timestamp")
        row = (
            matched.join(attrs, "doc_id", "inner")
            .where(v.isNotNull())
            .agg(F.min(v).alias("lo"), F.max(v).alias("hi"))
            .collect()[0]
        )
        if row["lo"] is None:
            return self.spark.createDataFrame([], out_schema)
        span = (row["hi"] - row["lo"]).total_seconds()
        label, _est, kind = self._AUTO_LADDER[-1]
        for cand_label, est, cand_kind in self._AUTO_LADDER:
            if math.floor(span / est) + 1 <= buckets:
                label, kind = cand_label, cand_kind
                break
        hist = self.date_histogram_agg(
            query_text,
            attrs,
            ts_col,
            calendar_interval=label if kind == "calendar" else None,
            fixed_interval_s=(
                None if kind == "calendar"
                else next(e for (l_, e, _k) in self._AUTO_LADDER
                          if l_ == label)
            ),
            min_doc_count=0,
            time_zone=time_zone,
        )
        return hist.select(
            "bucket", "doc_count", F.lit(label).alias("interval")
        )

    def date_histogram_pipeline_agg(
        self,
        query_text: str,
        attrs: DataFrame,
        ts_col: str,
        calendar_interval: str | None = None,
        fixed_interval_s: int | None = None,
        window: int = 3,
        time_zone: str | None = None,
    ) -> DataFrame:
        """ES PIPELINE aggregations over a ``date_histogram``: per time
        bucket, the parent doc_count plus

        * ``cumulative_sum``   — running total of doc_count,
        * ``derivative``       — doc_count − previous bucket's (NULL for
          the first bucket, the ES contract; the zero-fill spine of the
          parent histogram, ``min_doc_count: 0``, is what makes adjacent
          buckets truly adjacent — ES requires exactly that for
          derivatives),
        * ``moving_avg``       — mean of the trailing ``window`` buckets
          INCLUDING the current one (the legacy ``moving_avg`` /
          ``moving_fn`` with ``shift = window`` model; partial leading
          windows average what exists, so no NULL warm-up).

        Plan shape: the parent histogram's one decode + join + groupBy,
        then ONE window over the bucket spine — a bucket-count-sized
        frame (thousands of rows at 100 TB), single partition by
        construction and negligible next to the match-set scan. Returns
        ``(bucket, doc_count, cumulative_sum, derivative, moving_avg)``
        ordered by bucket."""
        from pyspark.sql.window import Window

        if window < 1:
            raise ValueError(f"window must be >= 1, got {window}")
        hist = self.date_histogram_agg(
            query_text,
            attrs,
            ts_col,
            calendar_interval=calendar_interval,
            fixed_interval_s=fixed_interval_s,
            min_doc_count=0,  # dense spine: derivative needs adjacency
            time_zone=time_zone,
        )
        w = Window.orderBy("bucket")
        return (
            hist.select(
                "bucket",
                "doc_count",
                F.sum("doc_count")
                .over(w.rowsBetween(Window.unboundedPreceding, 0))
                .alias("cumulative_sum"),
                (F.col("doc_count") - F.lag("doc_count", 1).over(w))
                .alias("derivative"),
                F.avg("doc_count")
                .over(w.rowsBetween(-(window - 1), 0))
                .alias("moving_avg"),
            )
            .orderBy("bucket")
        )

    @staticmethod
    def bucket_stats(
        buckets: DataFrame,
        stat: str = "max",
        metric_col: str = "doc_count",
        key_col: str = "bucket",
    ) -> DataFrame:
        """ES SIBLING pipeline aggregations — ``max_bucket`` /
        ``min_bucket`` / ``avg_bucket`` / ``sum_bucket`` /
        ``stats_bucket`` — over a parent aggregation's bucket frame (the
        output of ``terms_agg`` / ``date_histogram_agg`` / ...), metric =
        ``buckets_path`` (``doc_count`` ≙ ES ``_count``).

        ``max``/``min`` return one ``(key, value)`` row PER bucket
        achieving the extremum, ordered by key — the relational rendering
        of ES's ``keys`` array + ``value``; ``avg``/``sum`` one
        ``(value)`` row; ``stats`` one ``(count, min, max, avg, sum)``
        row. The input is a bucket-count-sized frame (thousands of rows
        at 100 TB), so the whole-frame window / single agg here is
        negligible next to the parent's scan."""
        from pyspark.sql.window import Window

        m = F.col(metric_col).cast("double")
        if stat in ("max", "min"):
            ext = (F.max(m) if stat == "max" else F.min(m)).over(
                Window.partitionBy()
            )
            return (
                buckets.select(
                    F.col(key_col).alias("key"),
                    m.alias("value"),
                    ext.alias("_ext"),
                )
                .where(F.col("value") == F.col("_ext"))
                .drop("_ext")
                .orderBy("key")
            )
        if stat in ("avg", "sum"):
            fn = F.avg if stat == "avg" else F.sum
            return buckets.agg(fn(m).alias("value"))
        if stat == "stats":
            return buckets.agg(
                F.count(m).alias("count"),
                F.min(m).alias("min"),
                F.max(m).alias("max"),
                F.avg(m).alias("avg"),
                F.sum(m).alias("sum"),
            )
        raise ValueError(
            f"stat must be max/min/avg/sum/stats, got {stat!r}"
        )

    @staticmethod
    def bucket_sort(
        buckets: DataFrame,
        sort: list[tuple[str, str]],
        from_: int = 0,
        size: int | None = None,
    ) -> DataFrame:
        """ES ``bucket_sort`` pipeline: reorder + paginate the PARENT
        buckets by metric columns. ``sort`` = [(col, "asc"|"desc"), ...];
        the combination must be a total order for pagination to be
        deterministic (ES guarantees no tiebreak — this implementation
        demands the caller append the bucket key when metrics can tie).
        ``from_``/``size`` are ES ``from``/``size``. A window over the
        bucket-count-sized frame — no new scan of the data."""
        from pyspark.sql.window import Window

        if not sort:
            raise ValueError("sort must name at least one column")
        keys = []
        for col, direction in sort:
            if direction not in ("asc", "desc"):
                raise ValueError(
                    f"sort direction must be asc or desc, got {direction!r}"
                )
            keys.append(
                F.col(col).asc() if direction == "asc" else F.col(col).desc()
            )
        if from_ == 0 and size is None:
            return buckets.orderBy(*keys)
        rn = F.row_number().over(Window.orderBy(*keys))
        out = buckets.select("*", rn.alias("_rn")).where(
            F.col("_rn") > int(from_)
        )
        if size is not None:
            out = out.where(F.col("_rn") <= int(from_) + int(size))
        return out.drop("_rn").orderBy(*keys)

    @staticmethod
    def bucket_selector(buckets: DataFrame, predicate: str) -> DataFrame:
        """ES ``bucket_selector`` pipeline: keep parent buckets where the
        predicate over the bucket row holds. The ES script
        (``params.count > 10``) renders relationally as a SQL boolean
        expression over the bucket columns (``"doc_count > 10"``) — a
        pure filter on the bucket frame, no new jobs, and Catalyst can
        still fold it into the parent aggregation's plan."""
        return buckets.where(F.expr(predicate))

    def filters_agg(
        self,
        query_text: str,
        attrs: DataFrame,
        filters: dict[str, dict],
        other_bucket_key: str | None = None,
    ) -> DataFrame:
        """ES ``filters`` aggregation: one NAMED bucket per filter spec,
        each counting the docs of the query's match set that satisfy it
        (buckets may overlap — a doc can land in several, unlike
        ``terms``/``range``). Specs are the attr-predicate grammar of the
        bool DSL (term / range / exists over ``attrs`` columns — the
        Kibana filters-bar shape). ``other_bucket_key`` adds the ES
        other-bucket: docs matching NO named filter.

        Plan shape: ONE match-set decode + ONE left join + ONE
        aggregation — every bucket is a conditional-sum column in the
        same map-side-combined agg, never a per-filter job/semi-join, so
        adding buckets adds zero shuffles at 10^12 docs. Returns
        ``(name, doc_count)`` ordered by name (named buckets are a dict;
        a deterministic order replaces ES's insertion order). Empty
        buckets return doc_count 0 (ES keeps named buckets). Replaces
        the reference's delegation of aggregations to Elasticsearch."""
        if not filters:
            raise ValueError("filters_agg needs at least one named filter")
        preds = {}
        for name, clause in filters.items():
            (kind, body), = clause.items()
            preds[name] = self._attr_pred(attrs, kind, body)
        names = sorted(preds)
        matched = self._matched_docs(query_text)
        empty = self.spark.createDataFrame(
            [(n, 0) for n in names]
            + ([(other_bucket_key, 0)] if other_bucket_key else []),
            "name string, doc_count long",
        ).orderBy("name")
        if matched is None:
            return empty
        joined = matched.join(attrs, "doc_id", "left")
        aggs = [
            F.sum(F.when(preds[n], 1).otherwise(0)).alias(n) for n in names
        ]
        if other_bucket_key is not None:
            none_match = F.lit(True)
            for n in names:
                # null predicate (null attr) counts as non-matching
                none_match = none_match & ~F.coalesce(preds[n], F.lit(False))
            aggs.append(
                F.sum(F.when(none_match, 1).otherwise(0))
                .alias(other_bucket_key)
            )
            names = names + [other_bucket_key]
        row = joined.agg(*aggs)
        # melt the single row to (name, doc_count) — driver never sees data
        pairs = F.array(*[
            F.struct(F.lit(n).alias("name"), F.col(n).alias("doc_count"))
            for n in names
        ])
        out = (
            row.select(F.explode(pairs).alias("b"))
            .select("b.name", F.coalesce("b.doc_count", F.lit(0)).alias("doc_count"))
            .orderBy("name")
        )
        return out

    def adjacency_matrix_agg(
        self,
        query_text: str,
        attrs: DataFrame,
        filters: dict[str, dict],
        separator: str = "&",
    ) -> DataFrame:
        """ES ``adjacency_matrix`` aggregation: for named filters A, B, C
        over the query's match set, one bucket per filter (docs matching
        it) AND one per pair intersection keyed ``"A&B"`` (ES joins the
        two names — sorted — with ``separator``). Specs are the bool-DSL
        attr-predicate grammar (term / range / exists), like
        ``filters_agg``. ES returns only NON-EMPTY buckets (unlike
        ``filters``) — matched here.

        Plan shape: identical to ``filters_agg`` — ONE match-set decode +
        ONE left join + ONE aggregation where every bucket (singles and
        the n·(n−1)/2 pairs) is a conditional-sum column in the same
        map-side-combined pass, then one explode. n filters add n(n+1)/2
        COLUMNS, zero extra shuffles/jobs — the ES warning about matrix
        growth is a column-width cost here, not a pass cost."""
        if not filters:
            raise ValueError(
                "adjacency_matrix_agg needs at least one named filter"
            )
        if any(separator in n for n in filters):
            raise ValueError(
                f"filter names must not contain the separator "
                f"{separator!r}: {sorted(filters)}"
            )
        preds = {}
        for name, clause in filters.items():
            (kind, body), = clause.items()
            # null attr = non-matching (ES): coalesce the predicate
            preds[name] = F.coalesce(
                self._attr_pred(attrs, kind, body), F.lit(False)
            )
        names = sorted(preds)
        keys: list[tuple[str, object]] = [(n, preds[n]) for n in names]
        for i, a in enumerate(names):
            for b in names[i + 1:]:
                keys.append((a + separator + b, preds[a] & preds[b]))
        out_schema = "key string, doc_count long"
        matched = self._matched_docs(query_text)
        if matched is None:
            return self.spark.createDataFrame([], out_schema)
        joined = matched.join(attrs, "doc_id", "left")
        row = joined.agg(*[
            F.sum(F.when(p, 1).otherwise(0)).alias(f"_c{i}")
            for i, (_k, p) in enumerate(keys)
        ])
        pairs = F.array(*[
            F.struct(
                F.lit(k).alias("key"),
                F.coalesce(F.col(f"_c{i}"), F.lit(0))
                .cast("long")
                .alias("doc_count"),
            )
            for i, (k, _p) in enumerate(keys)
        ])
        return (
            row.select(F.explode(pairs).alias("b"))
            .select("b.key", "b.doc_count")
            .where(F.col("doc_count") > 0)  # ES: empty buckets drop
            .orderBy("key")
        )

    def date_histogram_terms_agg(
        self,
        query_text: str,
        attrs: DataFrame,
        ts_col: str,
        sub_col: str,
        calendar_interval: str = "month",
        size: int = 3,
    ) -> DataFrame:
        """ES NESTED bucket aggregation: ``date_histogram`` with a
        ``terms`` sub-aggregation — "top ``size`` values of ``sub_col``
        per time bucket", the canonical Kibana stacked-bar shape. Each
        sub-bucket row carries its own doc_count plus the parent
        bucket's total (``bucket_count``); sub-buckets order by the ES
        terms contract (count desc, value asc) within their bucket.
        Returns flat rows ``(bucket, bucket_count, value, doc_count)``
        — the relational rendering of the nested JSON; time buckets with
        no matching docs are omitted (min_doc_count=1 semantics; the
        zero-fill spine belongs to the flat date_histogram).

        Plan shape: ONE match-set decode + ONE join + ONE
        groupBy(bucket, value) (map-side combined) + ONE window
        (partitionBy bucket) for the per-bucket top-size cut and the
        bucket total — never a per-bucket job, so 10^6 buckets cost the
        same two shuffles as 10. NULL ``sub_col`` values drop from
        sub-buckets but still count in ``bucket_count`` (ES: missing
        values leave the terms sub-agg, not the parent)."""
        from pyspark.sql import Window

        from ..operators.analytics import CALENDAR_UNITS

        if calendar_interval not in CALENDAR_UNITS:
            raise ValueError(
                f"calendar_interval must be one of {CALENDAR_UNITS}, "
                f"got {calendar_interval!r}"
            )
        self._attr_col(attrs, ts_col)
        self._attr_col(attrs, sub_col)
        matched = self._matched_docs(query_text)
        if matched is None:
            return self.spark.createDataFrame(
                [],
                "bucket timestamp, bucket_count long, "
                "value string, doc_count long",
            )
        joined = matched.join(
            attrs.where(F.col(ts_col).isNotNull()), "doc_id", "inner"
        ).select(
            F.date_trunc(calendar_interval, F.col(ts_col)).alias("bucket"),
            F.col(sub_col).cast("string").alias("value"),
        )
        counts = joined.groupBy("bucket", "value").agg(
            F.count("*").alias("doc_count")
        )
        w = Window.partitionBy("bucket")
        ranked = counts.select(
            "bucket",
            F.sum("doc_count").over(w).alias("bucket_count"),
            "value",
            "doc_count",
            F.row_number()
            .over(
                w.orderBy(
                    F.col("value").isNull(),  # nulls drop below real values
                    F.desc("doc_count"),
                    F.asc("value"),
                )
            )
            .alias("_r"),
        )
        return (
            ranked.where(F.col("value").isNotNull() & (F.col("_r") <= size))
            .drop("_r")
            .orderBy("bucket", F.desc("doc_count"), F.asc("value"))
        )

    def significant_terms(
        self,
        query_text: str,
        docs: DataFrame,
        size: int = 10,
        min_doc_count: int = 3,
        text_col: str = "text",
    ) -> DataFrame:
        """ES ``significant_terms`` over the query's match set with the
        default JLH heuristic: for each term in FOREGROUND docs (the match
        set), ``score = (fg% − bg%) · (fg% / bg%)`` where fg% = fg_df /
        fg_size and bg% = index df / n_docs; only terms with fg% > bg% and
        fg_df ≥ ``min_doc_count`` (ES default 3) qualify. Returns
        ``(term, fg_count, bg_count, score)``, score desc / term asc,
        top ``size``.

        Plan shape at scale: the match set (usually a small fraction of
        the corpus) joins ``docs`` and re-tokenizes ONLY those docs — one
        narrow scan + one groupBy — while the background df comes free
        from the dictionary (like ES, it counts not-yet-compacted deleted
        docs; both sides use the same index-wide stats). Decoding every
        posting of every fg term instead would scan the whole index.
        """
        from ..analysis import tokens_expr

        if size <= 0 or min_doc_count < 1:
            raise ValueError(
                f"need size > 0 and min_doc_count >= 1, got {size}/{min_doc_count}"
            )
        matched = self._matched_docs(query_text)
        out_schema = "term string, fg_count long, bg_count long, score double"
        if matched is None:
            return self.spark.createDataFrame([], out_schema)
        self._attr_col(docs, text_col)  # fail-fast validation
        fg_size_row = matched.agg(F.count("*").alias("n")).collect()[0]
        fg_size = int(fg_size_row["n"])
        if fg_size == 0:
            return self.spark.createDataFrame([], out_schema)
        fg = (
            matched.join(docs.select("doc_id", text_col), "doc_id")
            .select(
                "doc_id",
                F.explode(F.array_distinct(tokens_expr(text_col))).alias("term"),
            )
            .groupBy("term")
            .agg(F.count("*").alias("fg_count"))
            .where(F.col("fg_count") >= min_doc_count)
        )
        bg = self.dictionary.select("term", F.col("df").alias("bg_count"))
        fg_pct = F.col("fg_count") / F.lit(float(fg_size))
        bg_pct = F.col("bg_count") / F.lit(float(self.n_docs))
        scored = (
            fg.join(bg, "term")
            .where(fg_pct > bg_pct)
            .select(
                "term",
                "fg_count",
                "bg_count",
                ((fg_pct - bg_pct) * (fg_pct / bg_pct)).alias("score"),
            )
        )
        return scored.orderBy(F.desc("score"), F.asc("term")).limit(size)

    def top_hits_agg(
        self,
        query_text: str,
        attrs: DataFrame,
        facet_col: str,
        hits_per_bucket: int = 3,
        n_buckets: int = 10,
    ) -> DataFrame:
        """ES ``top_hits`` under a ``terms`` aggregation: for the
        ``n_buckets`` largest buckets of ``facet_col`` over the query's
        match set, the ``hits_per_bucket`` best-scoring docs (full BM25,
        score desc / doc_id asc — the deterministic hit order). NULL
        facet values drop (ES terms-agg default). Returns
        ``(value, doc_id, score, rank)``.

        Plan: ONE decode+aggregation produces the match set's exact
        scores (the `_bm25_scored` pipeline shared with topk_dataframe),
        bucket selection is a count groupBy + top-N (count desc, value
        asc tiebreak), and per-bucket hits are one window row_number —
        no per-bucket jobs, no collect."""
        from pyspark.sql import Window

        if hits_per_bucket <= 0 or n_buckets <= 0:
            raise ValueError(
                f"need hits_per_bucket > 0 and n_buckets > 0, got "
                f"{hits_per_bucket}/{n_buckets}"
            )
        v = self._attr_col(attrs, facet_col)
        out_schema = "value string, doc_id long, score double, rank int"
        plan = self._plan(query_text)
        if plan is None:
            return self.spark.createDataFrame([], out_schema)
        idfs, blocks, _ = plan
        scored = self._bm25_scored(
            self._mask(flat_postings(blocks)), idfs
        )
        hits = scored.join(attrs, "doc_id", "inner").where(v.isNotNull()).select(
            v.cast("string").alias("value"), "doc_id", "score"
        )
        top_buckets = (
            hits.groupBy("value")
            .agg(F.count("*").alias("_n"))
            .orderBy(F.desc("_n"), F.asc("value"))
            .limit(n_buckets)
            .select("value")
        )
        w = Window.partitionBy("value").orderBy(
            F.desc("score"), F.asc("doc_id")
        )
        return (
            hits.join(F.broadcast(top_buckets), "value", "left_semi")
            .withColumn("rank", F.row_number().over(w).cast("int"))
            .where(F.col("rank") <= hits_per_bucket)
            .select("value", "doc_id", "score", "rank")
        )

    def exists_filter(self, attrs: DataFrame, col: str) -> DataFrame:
        """ES ``exists`` query as an allow-list builder: doc_ids whose
        ``col`` is non-null in ``attrs`` — compose as ``allowed=`` on any
        query mode (ES bool { filter: { exists } }). Pure pushed-down
        IsNotNull scan."""
        v = self._attr_col(attrs, col)
        return attrs.where(v.isNotNull()).select("doc_id")

    def composite_agg(
        self,
        query_text: str,
        attrs: DataFrame,
        cols: list[str],
        size: int = 10,
        after: tuple | list | None = None,
    ) -> DataFrame:
        """ES ``composite`` aggregation: ALL buckets of the multi-source
        key, paginated in ascending key order with an ``after`` cursor —
        ES's own answer to paging a large terms-agg (a terms agg's top-N
        cannot be continued; composite can). Docs with a NULL in any
        source drop out (ES default ``missing_bucket: false``).

        ``after`` is the previous page's last key tuple. The cursor is a
        lexicographic struct comparison pushed into the plan — at scale
        Catalyst turns it into a range predicate on the first source, so
        deep pages never rescan earlier buckets' groups. Returns
        ``(<cols...>, doc_count)`` ordered by the key."""
        if size <= 0:
            raise ValueError(f"size must be > 0, got {size}")
        if not cols:
            raise ValueError("cols must be non-empty")
        vs = [self._attr_col(attrs, c) for c in cols]
        matched = self._matched_docs(query_text)
        if matched is None:
            return attrs.select(
                *[v.alias(c) for c, v in zip(cols, vs)],
                F.lit(0).cast("long").alias("doc_count"),
            ).limit(0)
        joined = matched.join(attrs, "doc_id", "inner")
        for v in vs:
            joined = joined.where(v.isNotNull())
        buckets = joined.groupBy(
            *[v.alias(c) for c, v in zip(cols, vs)]
        ).agg(F.count("*").alias("doc_count"))
        if after is not None:
            if len(after) != len(cols):
                raise ValueError(
                    f"after key must have {len(cols)} values, got {after!r}"
                )
            key = F.struct(*[F.col("`" + c.replace("`", "``") + "`")
                             for c in cols])
            # cast cursor literals to the key columns' types (struct
            # comparison requires exact field-type match)
            types = {f.name: f.dataType for f in buckets.schema.fields}
            lit = F.struct(
                *[F.lit(a).cast(types[c]) for c, a in zip(cols, after)]
            )
            buckets = buckets.where(key > lit)
        order = [F.asc("`" + c.replace("`", "``") + "`") for c in cols]
        return buckets.orderBy(*order).limit(size)

    def facet_counts(
        self,
        query_text: str,
        attrs: DataFrame,
        facet_cols: list[str],
        top_values: int = 10,
    ) -> DataFrame:
        """Terms-aggregation facets over the query's FULL match set (the
        ES ``aggs: {terms: {field: ...}}`` analogue): for each facet
        column, the top ``top_values`` values by matching-doc count
        (ties: value ascending). ``attrs`` carries doc_id + the facet
        columns (e.g. ``store.load().docs``).

        Shape at scale: matched doc_ids (distinct over the term-pruned
        decode) join ``attrs`` once; all facet columns then unpivot
        through ONE ``stack`` projection into a single low-cardinality
        groupBy — one scan, one aggregation shuffle, regardless of how
        many facets are requested; the final top-N per facet is a window
        over (facets × values) rows, which is tiny by construction."""
        from pyspark.sql import Window

        out_schema = "facet string, value string, doc_count long"
        matched = self._matched_docs(query_text)
        if matched is None:
            return self.spark.createDataFrame([], out_schema)
        joined = matched.join(attrs, "doc_id", "inner")
        # typed-expression unpivot (explode over an array of structs) —
        # NOT a string-built stack(): a facet column named with a
        # backtick/quote must neither break the parse nor inject SQL
        # (round-3 ADVICE). Unknown names fail fast with the column list.
        missing = [c for c in facet_cols if c not in attrs.columns]
        if missing:
            raise ValueError(
                f"facet column(s) {missing} not in attrs {attrs.columns}"
            )
        pairs = F.array(
            *[
                F.struct(
                    F.lit(c).alias("facet"),
                    # canonical identifier quoting: wrap in backticks with
                    # inner backticks doubled — a hostile name can neither
                    # break the parse nor smuggle an expression in
                    F.col("`" + c.replace("`", "``") + "`")
                    .cast("string")
                    .alias("value"),
                )
                for c in facet_cols
            ]
        )
        unpivoted = joined.select(
            F.explode(pairs).alias("_fv")
        ).select("_fv.facet", "_fv.value")
        # ES terms aggs exclude missing (null) values unless `missing`
        # is configured — a null bucket must not occupy a top-N slot
        counts = unpivoted.where(F.col("value").isNotNull()).groupBy(
            "facet", "value"
        ).agg(F.count("*").alias("doc_count"))
        w = Window.partitionBy("facet").orderBy(
            F.desc("doc_count"), F.asc("value")
        )
        return (
            counts.withColumn("_r", F.row_number().over(w))
            .where(F.col("_r") <= top_values)
            .drop("_r")
        )

    def topk_span_first(
        self,
        term: str,
        end: int,
        k: int = 10,
        allowed: DataFrame | None = None,
        excluded: DataFrame | None = None,
    ) -> DataFrame:
        """ES ``span_first`` query: match ``term`` only where it occurs
        within the FIRST ``end`` token positions of the doc (Lucene
        SpanFirstQuery: spans with ``span.end() <= end``; a single-term
        span at 0-based position p has end p+1, so the gate is
        ``p < end``) — the "title-ish boost without a title field" query.
        Scoring is Lucene SpanScorer: freq = number of qualifying spans
        (each contributes sloppyFreq(0)=1), then the standard BM25
        tf-norm with that freq — a doc with 5 occurrences of which 2 are
        early scores as tf=2.

        Plan shape: ONE term+bucket-pruned positional decode (only this
        term's blocks read their pos stream) + a codegen array filter/
        size — positions never leave their executor, no extra shuffle vs
        a plain match. Replaces the reference's delegation of span
        queries to Elasticsearch (rabbit_indexer delegates all search to
        ES 7.9.1)."""
        if end <= 0:
            raise ValueError(f"end must be > 0, got {end}")
        toks = self._tok(term)
        if len(toks) != 1:
            raise ValueError(
                f"span_first term must analyze to one token, got {toks!r}"
            )
        tok = toks[0]
        meta = self._term_meta([tok])
        df_t = meta[tok][0]
        if df_t == 0:
            return _empty_topk(self.spark)
        idf = lucene_idf(self.n_docs, df_t)
        flat = self._mask(
            flat_postings_positional(self._term_blocks([tok])),
            allowed, excluded,
        )
        sf = F.size(F.filter("positions", lambda p: p < F.lit(int(end))))
        scored = (
            flat.select("doc_id", "dl", sf.alias("sf"))
            .where(F.col("sf") > 0)
            .select(
                "doc_id",
                (
                    F.lit(idf)
                    * F.col("sf")
                    * (codec.K1 + 1.0)
                    / (
                        F.col("sf")
                        + codec.K1
                        * (
                            1.0
                            - codec.B
                            + codec.B * F.col("dl") / F.lit(self.avgdl)
                        )
                    )
                ).alias("score"),
            )
        )
        return scored.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)

    def topk_near(
        self,
        query_text: str,
        k: int = 10,
        gap: int = 1,
        allowed: DataFrame | None = None,
        skip_acc=None,
        excluded: DataFrame | None = None,
    ) -> DataFrame:
        """Ordered proximity top-k (ES ``span_near(in_order=true)``) — the
        block-max positional path and the engine default. Semantics and
        scores are identical to ``topk_near_dataframe`` (the reference
        twin; see its docstring for the chain-count contract; ``gap=1``
        degenerates to the exact phrase). Plan shape is ``topk_phrase``'s:
        compressed blocks group by doc range, every term's blocks
        semi-join the rarest term's range_ids (block metadata only), and
        the per-range scorer (``_make_near_range_scorer``) intersects
        doc-level candidates on the cheap streams before decoding any
        position stream — so a hot×hot proximity query never ships or
        decodes positions for docs that can't hold all terms, at any df.
        Tombstones and ``allowed`` cogroup per range exactly like
        ``topk_blockmax``; ``skip_acc`` counts blocks skipped undecoded.
        """
        qterms = self._tok(query_text)
        plan = self._plan_required(qterms)
        if plan is None:
            return _empty_topk(self.spark)
        _, meta, order, blocks = plan
        idf_q = sum(lucene_idf(self.n_docs, meta[t][0]) for t in qterms)
        return self._run_range_scorer(
            _make_near_range_scorer(
                idf_q, self.avgdl, k, self.range_bits, order, qterms, gap
            ),
            blocks, meta, k, allowed, excluded, skip_acc, positions=True,
            label="topk_near",
        )

    def topk_near_unordered(
        self,
        query_text: str,
        k: int = 10,
        slop: int = 0,
        allowed: DataFrame | None = None,
        skip_acc=None,
        excluded: DataFrame | None = None,
    ) -> DataFrame:
        """Unordered proximity top-k (ES ``span_near(in_order=false)``):
        a doc matches when one occurrence of every query term fits a
        window with at most ``slop`` slack tokens between them, in ANY
        order (``slop=0`` = the terms adjacent in some permutation).
        Distance per minimal window is Lucene NearSpansUnordered's
        matchWidth — ``(max_pos − min_pos) − (n_terms − 1)`` — and
        sloppy_freq sums 1/(1+distance); full semantics and the
        vectorized minimal-window sweep are documented on
        ``_make_sloppy_range_scorer`` (ordered=False). Duplicate query
        terms collapse to one slot (documented deviation: Lucene spans
        would require distinct occurrences). idf sums over the distinct
        slots. Plan shape, block pruning, tombstone/filter cogrouping and
        ``skip_acc`` are exactly ``topk_near``'s.
        """
        plan = self._plan_required(self._tok(query_text))
        if plan is None:
            return _empty_topk(self.spark)
        uniq, meta, order, blocks = plan
        idf_q = sum(lucene_idf(self.n_docs, meta[t][0]) for t in uniq)
        return self._run_range_scorer(
            _make_sloppy_range_scorer(
                idf_q, self.avgdl, k, self.range_bits, order,
                [(t, 0) for t in uniq], slop, False,
            ),
            blocks, meta, k, allowed, excluded, skip_acc, positions=True,
            label="topk_near_unordered",
        )

    def topk_near_dataframe(
        self,
        query_text: str,
        k: int = 10,
        gap: int = 1,
        allowed: DataFrame | None = None,
    ) -> DataFrame:
        """Ordered proximity top-k (the ES ``span_near(in_order=true)``
        analogue) over the positional postings — the pure-DataFrame
        reference twin of ``topk_near`` (rank- and score-identical;
        test-asserted): a doc matches when the query's terms occur IN
        ORDER with each consecutive pair at most ``gap`` positions apart;
        ``gap=1`` degenerates to the exact phrase. The match count is the
        number of position chains (p₀ < p₁ ≤ p₀+gap < … ), and scoring
        treats the span like ``topk_phrase``'s pseudo-term:

            score = (Σ_i idf(term_i)) · tf_norm(chain_count, dl, avgdl)

        Plan: same single-shuffle union/groupBy as the phrase path, but
        the per-doc combine is a weighted-chain dynamic program in JVM
        higher-order functions — the collected per-query-position arrays
        are sorted by query position, the running state is an array of
        (position, chain-count) structs, and each step is a
        ``transform``/``filter``/``aggregate`` fold: weight(p) =
        Σ weights of prior-term positions in [p−gap, p−1]. O(tf·tf′) per
        doc pair of terms, zero Python. A term repeated in the query is
        decoded ONCE and exploded per query position.
        """
        qterms = self._tok(query_text)
        if not qterms:
            return _empty_topk(self.spark)
        uniq = sorted(set(qterms))
        meta = self._term_meta(uniq)
        if any(meta[t][0] == 0 for t in uniq):
            return _empty_topk(self.spark)
        idf_q = sum(lucene_idf(self.n_docs, meta[t][0]) for t in qterms)
        offsets: dict[str, list[int]] = {}
        for i, t in enumerate(qterms):
            offsets.setdefault(t, []).append(i)

        rarest, prefilter, rare_ranges = self._rare_prefilter(uniq, meta)
        parts: list[DataFrame] = []
        for t in uniq:
            blocks_t = self._term_blocks([t])
            if rare_ranges is not None and t != rarest:
                blocks_t = blocks_t.join(rare_ranges, "range_id", "left_semi")
            flat_t = flat_postings_positional(blocks_t)
            if prefilter is not None and t != rarest:
                flat_t = flat_t.join(prefilter, "doc_id", "left_semi")
            # one decode per unique term; one output row per query position
            parts.append(
                flat_t.select(
                    "doc_id",
                    "dl",
                    F.explode(
                        F.array(*[F.lit(i) for i in offsets[t]])
                    ).alias("_n"),
                    F.col("positions").alias("_s"),
                )
            )
        unioned = parts[0]
        for p in parts[1:]:
            unioned = unioned.unionByName(p)
        unioned = self._mask(unioned, allowed)
        n_pos = len(qterms)
        grouped = (
            unioned.groupBy("doc_id")
            .agg(
                F.first("dl").alias("dl"),
                F.count("*").alias("_nt"),
                F.collect_list(F.struct("_n", "_s")).alias("_parts"),
            )
            .where(F.col("_nt") == n_pos)
        )
        # query-position-ordered arrays (collect_list order is arbitrary)
        arrs = F.transform(F.array_sort("_parts"), lambda x: x["_s"])
        init = F.transform(
            arrs[0], lambda p: F.struct(p.alias("p"), F.lit(1).cast("long").alias("w"))
        )
        glit = F.lit(gap).cast("long")

        def step(state, arr):
            return F.filter(
                F.transform(
                    arr,
                    lambda p: F.struct(
                        p.alias("p"),
                        F.aggregate(
                            F.filter(
                                state,
                                lambda s: (s["p"] < p) & (p <= s["p"] + glit),
                            ),
                            F.lit(0).cast("long"),
                            lambda a, s: a + s["w"],
                        ).alias("w"),
                    ),
                ),
                lambda x: x["w"] > 0,
            )

        chain = F.aggregate(F.slice(arrs, 2, n_pos - 1), init, step) if n_pos > 1 else init
        tf = F.aggregate(
            chain, F.lit(0).cast("long"), lambda a, x: a + x["w"]
        )
        scored = grouped.select("doc_id", "dl", tf.alias("_tf")).where(
            F.col("_tf") > 0
        ).select(
            "doc_id",
            (
                F.lit(idf_q)
                * F.col("_tf").cast("double")
                * (codec.K1 + 1.0)
                / (
                    F.col("_tf").cast("double")
                    + codec.K1
                    * (1.0 - codec.B + codec.B * F.col("dl") / F.lit(self.avgdl))
                )
            ).alias("score"),
        )
        return scored.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)

    def fetch_topk(
        self, query_text: str, k: int, docs: DataFrame, fast: bool = True
    ) -> DataFrame:
        """Top-k joined back to doc keys/text — verifies the per-turn
        text-equality invariant (BASELINE.json input_hint)."""
        top = (
            self.topk_blockmax(query_text, k)
            if fast
            else self.topk_dataframe(query_text, k)
        )
        return top.join(docs, "doc_id", "inner").orderBy(
            F.desc("score"), F.asc("doc_id")
        )


def _empty_topk_pdf() -> pd.DataFrame:
    return pd.DataFrame(
        {"doc_id": pd.Series(dtype="int64"), "score": pd.Series(dtype="float64")}
    )


def _local_topk(
    docs: np.ndarray, scores: np.ndarray, base: int, k: int
) -> pd.DataFrame:
    """A range's top-k rows in (score desc, doc_id asc) order from local
    doc indexes ``docs`` and their ``scores``."""
    order_idx = np.lexsort((docs, -scores))[:k]
    return pd.DataFrame(
        {
            "doc_id": (docs[order_idx] + base).astype("int64"),
            "score": scores[order_idx],
        }
    )


def _make_range_scorer(
    idfs: dict[str, float],
    avgdl: float,
    k: int,
    range_bits: int,
    theta0: float = 0.0,
    tie_breaker: float | None = None,
    avgdls: dict[str, float] | None = None,
    groups: dict[str, int] | None = None,
    cursor: tuple[float, int] | None = None,
):
    """Exact MaxScore/block-max kernel for one doc range (run by
    ``Searcher._run_range_scorer``).

    Dead and disallowed docs (the chassis's live bitmap ``C``) are masked
    **at block-decode time** (before any score is accumulated), so the
    skip threshold θ and every partial sum are tombstone-free — a deleted
    doc ranking highly can never cause a block holding live top-k docs to
    be skipped, and live docs are never returned under-scored. (Masking
    only at the end would poison θ.) A block whose span holds no live doc
    is skipped undecoded.

    θ discipline (exactness-preserving MaxScore/BMW):
    * partial accumulated scores are *lower bounds* on final scores (every
      term contribution is ≥ 0), so the running kth-largest partial score
      is a valid lower bound on the range's kth-best final score;
    * θ starts at the caller-provided global seed ``theta0`` (a lower
      bound on the corpus kth-best final score, see ``_seed_theta0``;
      0.0 = unseeded), so at 10^12 scale every range prunes from its
      first block instead of warming up per range;
    * θ is refreshed after each term AND within a term on a geometric
      schedule (after blocks 1, 2, 4, 8, then every ``_THETA_REFRESH``) —
      blocks arrive in descending upper-bound order, so the first block
      usually establishes a near-final θ and the early refreshes capture
      it at negligible cost; single-/hot-term queries prune too (a
      per-term-only θ never skips anything on a one-term query);
    * blocks are visited in descending block-upper-bound order within each
      term, so once the span-independent bound fails for one block it fails
      for all remaining blocks of that term (early break);
    * a block is skipped only when max(total over its doc span) + idf·ub +
      Σ remaining-term upper bounds < θ − eps: no doc in it can enter the
      local top-k.

    ``avgdls`` (multi-field): per-TERM average field length — a prefixed
    term's postings carry its own field's dl stream, so length
    normalization must use that field's avgdl (Lucene's per-field
    avgFieldLength); terms not listed fall back to the corpus ``avgdl``.

    ``groups`` (multi_match best_fields): term → clause-group index. With
    ``tie_breaker`` set, dis_max runs over GROUP SUMS (each group = one
    field's bool-should sum — ES best_fields is dis_max over per-field
    match queries) instead of single-term clauses. θ stays sound: partial
    group sums are lower bounds on final group sums, and the combine
    ``max_g·(1−tb) + tb·Σ`` is increasing in both arguments for tb ≤ 1;
    block-skip tests keep the SUM upper bound (dis_max ≤ sum).

    ``cursor`` (ES ``search_after``): ``(after_score, after_doc)`` — return
    the top-k among docs STRICTLY after the cursor in the global
    ``(score desc, doc_id asc)`` order. Exactness with cursor-aware θ:

    * θ must lower-bound the kth-best final among ELIGIBLE docs (final <
      after_score, or == with doc_id > after_doc). A doc's partial only
      counts toward θ once it is PROVABLY eligible: partial + (upper bound
      on its remaining contributions) < after_score ⇒ final < after_score.
      The remaining-contribution bound passed at each refresh is the
      MaxScore suffix (plus the in-progress term's max), so the proof is
      sound for every doc uniformly.
    * a skipped block's docs have true final < θ ≤ after_score — they ARE
      eligible but under-scored; harmless: ≥ k eligible docs carry fully-
      scored finals ≥ θ (their blocks can never pass the skip test since
      their span_max ≥ θ), so under-scored docs sort strictly below the
      returned page. Exact page, no depth-dependent decode cost.
    * the final eligibility predicate is applied on exact finals with
      bit-exact float equality (deterministic sorted-term accumulation),
      so cursor ties resolve identically across pages.
    """
    range_size = 1 << range_bits
    eps = 1e-9
    _THETA_REFRESH = 8  # blocks between within-term θ refreshes

    def kernel(
        base: int, pdf: pd.DataFrame, C: np.ndarray | None
    ) -> tuple[pd.DataFrame, int]:
        # per-term average field length (multi-field: a prefixed term's dl
        # stream is its FIELD's lengths, normalized by that field's avgdl)
        adl_of = (
            (lambda t: avgdls.get(t, avgdl)) if avgdls else (lambda t: avgdl)
        )
        # descending ub: the pruning-friendly visit order (see docstring)
        by_term = {}
        for t, g in pdf.groupby("term"):
            g = g.assign(
                ub=codec.tf_norm(
                    g["max_tf"].to_numpy(), g["min_dl"].to_numpy(), adl_of(t)
                )
            )
            by_term[t] = g.sort_values("ub", ascending=False)
        # U_t = max possible contribution of term t within this range
        U = {t: idfs[t] * float(g["ub"].max()) for t, g in by_term.items()}
        order = sorted(U, key=lambda t: -U[t])
        suffix = np.zeros(len(order) + 1)
        for i in range(len(order) - 1, -1, -1):
            suffix[i] = suffix[i + 1] + U[order[i]]

        total = np.zeros(range_size, dtype=np.float64)
        # dis_max mode (tie_breaker set): per-doc best-clause tracker —
        # partial dismax = mx·(1−tb) + tb·total is a valid lower bound on
        # the final dismax (increasing in both arguments for tb ≤ 1), so
        # θ stays sound; block-skip tests keep the SUM-based upper bound
        # (final dismax ≤ final sum when tb ≤ 1). With ``groups`` the
        # clauses are GROUP SUMS (multi_match best_fields): per-group
        # running sums replace the single-term max tracker.
        grouped = tie_breaker is not None and groups is not None
        mx = (
            np.zeros(range_size, dtype=np.float64)
            if (tie_breaker is not None and not grouped)
            else None
        )
        n_groups = (max(groups.values()) + 1) if grouped else 0
        gacc = (
            [np.zeros(range_size, dtype=np.float64) for _ in range(n_groups)]
            if grouped
            else None
        )
        per_term: dict[str, np.ndarray] = {}
        theta = theta0
        skipped = 0
        decoded = 0  # blocks decoded so far in this range (refresh schedule)

        def kth_partial(
            extra: np.ndarray | None,
            cur_group: int | None = None,
            rest_in: float = 0.0,
            rest_out: float = 0.0,
        ) -> float:
            combined = total if extra is None else total + extra
            if grouped:
                best: np.ndarray | None = None
                for gi, ga in enumerate(gacc):
                    v = (
                        ga + extra
                        if (extra is not None and gi == cur_group)
                        else ga
                    )
                    if best is None:
                        best = v.copy() if v is ga else v
                    else:
                        np.maximum(best, v, out=best)
                combined = best * (1.0 - tie_breaker) + tie_breaker * combined
            elif mx is not None:
                cmx = mx if extra is None else np.maximum(mx, extra)
                combined = cmx * (1.0 - tie_breaker) + tie_breaker * combined
            if cursor is not None:
                # search_after: only PROVABLY-ELIGIBLE docs may raise θ —
                # partial + remaining-UB < after_score ⇒ final < after.
                # Per-doc bound: a doc already decoded for the in-progress
                # term (extra > 0 — every decode contributes > 0, and a doc
                # appears in exactly one block per term+range) has only the
                # LATER terms left (rest_in = suffix[i+1]); an undecoded
                # doc may still gain the current term too (rest_out =
                # suffix[i]). Without this split, a one-hot-term tail never
                # proves eligibility and deep pages lose all pruning.
                if extra is not None and rest_out > rest_in:
                    rest = np.where(extra > 0.0, rest_in, rest_out)
                else:
                    rest = rest_in
                touched = combined[
                    (combined > 0.0) & (combined + rest < cursor[0])
                ]
            else:
                touched = combined[combined > 0.0]
            if len(touched) >= k:
                return float(np.partition(touched, -k)[-k])
            return 0.0

        for i, t in enumerate(order):
            idf = idfs[t]
            adl_t = adl_of(t)
            g_t = groups[t] if grouped else None
            rest = suffix[i + 1]
            arr = np.zeros(range_size, dtype=np.float64)
            total_max = float(total.max()) if theta > 0.0 else 0.0
            since_refresh = 0
            blocks_t = by_term[t]
            n_blk = len(blocks_t)
            for bi, row in enumerate(blocks_t.itertuples(index=False)):
                lo, hi = row.first_doc - base, row.last_doc - base
                if C is not None and not C[lo : hi + 1].any():
                    skipped += 1
                    continue  # no live doc in this block's span
                if theta > 0.0:
                    # ub-desc order: if even the best-scoring doc anywhere
                    # can't reach θ with this block's ub, no later block can
                    if total_max + idf * row.ub + rest < theta - eps:
                        skipped += n_blk - bi
                        break
                    span_max = float(total[lo : hi + 1].max())
                    if span_max + idf * row.ub + rest < theta - eps:
                        skipped += 1
                        continue  # no doc in this block can reach top-k
                ids, tfs = codec.unpack_block(row.doc_bytes, row.tf_bytes)
                dls = codec.varbyte_decode(row.dl_bytes)
                if C is not None:
                    live = C[ids - base]
                    if not live.all():
                        ids, tfs, dls = ids[live], tfs[live], dls[live]
                        if len(ids) == 0:
                            continue
                arr[ids - base] += idf * codec.tf_norm(tfs, dls, adl_t)
                since_refresh += 1
                decoded += 1
                # geometric early refresh (1,2,4,8 decoded blocks), then
                # every _THETA_REFRESH: ub-desc order means the first
                # block usually sets a near-final θ
                if since_refresh >= _THETA_REFRESH or decoded in (1, 2, 4, 8):
                    since_refresh = 0
                    new_theta = kth_partial(
                        arr, g_t, rest_in=suffix[i + 1], rest_out=suffix[i]
                    )
                    if new_theta > theta:
                        theta = new_theta
                        total_max = float(total.max())
            per_term[t] = arr
            total += arr
            if mx is not None:
                np.maximum(mx, arr, out=mx)
            if grouped:
                gacc[g_t] += arr
            theta = max(theta, kth_partial(None, rest_in=suffix[i + 1]))

        # deterministic final accumulation: sorted-term order (oracle parity)
        final = np.zeros(range_size, dtype=np.float64)
        fmx = np.zeros(range_size, dtype=np.float64) if mx is not None else None
        gfin = (
            [np.zeros(range_size, dtype=np.float64) for _ in range(n_groups)]
            if grouped
            else None
        )
        for t in sorted(per_term):
            final += per_term[t]
            if gfin is not None:
                gfin[groups[t]] += per_term[t]
            elif fmx is not None:
                np.maximum(fmx, per_term[t], out=fmx)
        if gfin is not None:  # best_fields: best FIELD sum + tb · the rest
            fmx = gfin[0].copy()
            for ga in gfin[1:]:
                np.maximum(fmx, ga, out=fmx)
        if fmx is not None:  # dis_max: best clause + tb · the rest
            final = fmx * (1.0 - tie_breaker) + tie_breaker * final
        nz = np.flatnonzero(final > 0.0)
        if cursor is not None and len(nz):
            # exact eligibility on exact finals (bit-exact equality — the
            # deterministic sorted-term accumulation makes score ties
            # reproducible across pages)
            after_score, after_doc = cursor
            sc = final[nz]
            ids = nz + base
            keep = (sc < after_score) | (
                (sc == after_score) & (ids > after_doc)
            )
            nz = nz[keep]
        return _local_topk(nz, final[nz], base, k), skipped

    return kernel


def _make_conjunctive_range_scorer(
    idfs: dict[str, float],
    avgdl: float,
    k: int,
    range_bits: int,
    term_order: list[str],
):
    """Candidate-driven conjunctive kernel for one doc range
    (``Searcher.topk_blockmax_and``; run by ``Searcher._run_range_scorer``).

    Exactness: only docs that match EVERY term in ``term_order`` (and
    are live in the chassis bitmap) are returned, with full BM25 sums
    accumulated in sorted-term order (bit-parity with the DataFrame
    reference path / DuckDB oracle). Pruning never uses a θ bound —
    a partial disjunctive score is not a lower bound for a conjunctive
    doc — only candidate-set emptiness, which is sound by definition:

    * a required term absent from the range ⇒ empty, zero decodes;
    * terms processed in global-df-ascending order; the candidate bitmap
      C (the live bitmap, then each term's matches) bounds every decode:
      a block whose [first_doc, last_doc] span holds no candidate is
      skipped undecoded, decoded postings are masked to C, and C
      intersects down after each term;
    * C empty at any point ⇒ early return.
    """
    range_size = 1 << range_bits

    def kernel(
        base: int, pdf: pd.DataFrame, C: np.ndarray | None
    ) -> tuple[pd.DataFrame, int]:
        if set(pdf["term"].tolist()) != set(term_order):
            return _empty_topk_pdf(), 0  # a required term absent from range
        skipped = 0
        per_term: dict[str, np.ndarray] = {}
        by_term = {t: g for t, g in pdf.groupby("term")}
        for t in term_order:
            idf = idfs[t]
            arr = np.zeros(range_size, dtype=np.float64)
            newC = np.zeros(range_size, dtype=bool)
            for row in by_term[t].itertuples(index=False):
                if C is not None:
                    lo, hi = row.first_doc - base, row.last_doc - base
                    if not C[lo : hi + 1].any():
                        skipped += 1
                        continue
                ids, tfs = codec.unpack_block(row.doc_bytes, row.tf_bytes)
                dls = codec.varbyte_decode(row.dl_bytes)
                idx = ids - base
                if C is not None:
                    keep = C[idx]
                    if not keep.any():
                        continue
                    idx, tfs, dls = idx[keep], tfs[keep], dls[keep]
                # '=' not '+=': blocks partition a term's postings, so one
                # (term, doc) pair appears in exactly one block
                arr[idx] = idf * codec.tf_norm(tfs, dls, avgdl)
                newC[idx] = True
            if not newC.any():
                return _empty_topk_pdf(), skipped
            per_term[t] = arr
            C = newC
        # deterministic final accumulation: sorted-term order (oracle parity)
        final = np.zeros(range_size, dtype=np.float64)
        for t in sorted(per_term):
            final += per_term[t]
        nz = np.flatnonzero(C)
        return _local_topk(nz, final[nz], base, k), skipped

    return kernel


def _make_phrase_range_scorer(
    idf_phrase: float,
    avgdl: float,
    k: int,
    range_bits: int,
    term_order: list[str],
    offsets: dict[str, list[int]],
):
    """Positional block-max phrase kernel for one doc range
    (``Searcher.topk_phrase``; run by ``Searcher._run_range_scorer``).

    The leapfrog analogue of Lucene's exact PhraseQuery, vectorized:

    * **pass 1 — doc-level intersection, cheap streams only.** Terms in
      global-df-ascending ``term_order``; per term, only ``doc_bytes`` /
      ``tf_bytes`` decode (never positions). The candidate bitmap C
      starts from the chassis's live bitmap and intersects down after
      each term: blocks whose [first_doc, last_doc] span misses C are
      skipped undecoded, and C empty at any point returns early. A doc
      missing any phrase term can never match — removals are lossless.
    * **pass 2 — positions, candidates only.** Per surviving block the
      position stream decodes IF some of its docs remain candidates;
      occurrences collapse to int64 keys ``local_doc << 32 | (pos -
      query_offset)`` (strictly ascending by construction: blocks are
      processed in first_doc order and positions ascend within a doc), a
      term at several query offsets intersects its own shifts first, and
      the cross-term phrase match is a running ``np.intersect1d`` over
      sorted-unique key arrays. ``phrase_tf`` = surviving keys per doc;
      score = idf_phrase · tf_norm(phrase_tf, dl, avgdl), bit-identical
      to the DataFrame twin (``topk_phrase_dataframe``) and the DuckDB
      oracle.

    Decoded positions never cross an executor boundary — the only
    shuffle is the compressed blocks' groupBy(range_id) — which removes
    the decode-everything worst case the union/groupBy plan hits when
    every phrase term is hot (round-3 verdict: 5.5 s hot-by-hot at sf0.1
    vs 0.73 s BM25 p95).
    """
    range_size = 1 << range_bits

    def kernel(
        base: int, pdf: pd.DataFrame, C: np.ndarray | None
    ) -> tuple[pd.DataFrame, int]:
        if set(pdf["term"].tolist()) != set(term_order):
            return _empty_topk_pdf(), 0  # a required term absent from range
        C, dl_arr, kept, skipped = _pass1_intersect(
            pdf, term_order, base, range_size, C
        )
        if C is None:
            return _empty_topk_pdf(), skipped
        # pass 2: positional intersection over final candidates only
        running: np.ndarray | None = None
        for t in term_order:
            offs = offsets[t]
            parts = []
            for pos_bytes, idx, tfs in kept[t]:
                live = C[idx]
                if not live.any():
                    skipped += 1  # pos stream never decoded
                    continue
                if len(pos_bytes) == 0 and tfs.sum() > 0:
                    raise ValueError(
                        "posting block has no position stream — the index "
                        "was built with positions=False; rebuild with "
                        "build_index(..., positions=True) for phrase queries"
                    )
                flat, _ = codec.unpack_positions(pos_bytes, tfs)
                occ_doc = np.repeat(idx, tfs)
                occ_live = np.repeat(live, tfs)
                flat = flat[occ_live]
                occ_doc = occ_doc[occ_live]
                kt: np.ndarray | None = None
                for off in offs:
                    m = flat >= off
                    keys = (occ_doc[m] << 32) | (flat[m] - off)
                    kt = (
                        keys
                        if kt is None
                        else np.intersect1d(kt, keys, assume_unique=True)
                    )
                if kt is not None and len(kt):
                    parts.append(kt)
            if not parts:
                return _empty_topk_pdf(), skipped
            term_keys = np.concatenate(parts)
            running = (
                term_keys
                if running is None
                else np.intersect1d(running, term_keys, assume_unique=True)
            )
            if not len(running):
                return _empty_topk_pdf(), skipped
        docs, ptf = np.unique(running >> 32, return_counts=True)
        return _finish_positional_topk(
            docs, ptf.astype(np.float64), dl_arr, base, idf_phrase, avgdl, k
        ), skipped

    return kernel


def _make_msm_range_scorer(
    idfs: dict[str, float],
    avgdl: float,
    k: int,
    range_bits: int,
    term_order: list[str],
    msm: int,
):
    """Counting generalization of ``_make_conjunctive_range_scorer`` for
    ``Searcher.topk_msm`` (1 < msm < n_terms): per doc range, terms are
    processed in global-df-ascending order while a per-doc match count
    accumulates; once the remaining terms can no longer lift a NEW doc to
    ``msm`` (term index i > n − msm), the viable bitmap bounds every later
    decode exactly like the conjunctive candidate set — blocks whose doc
    span misses it skip undecoded, decoded rows are masked, and the set
    tightens after every term to ``count_so_far + terms_left >= msm``.
    Before that crossover only the chassis's live bitmap bounds decodes
    (new docs may still appear). Exact: the viability inequality
    is an upper bound on any doc's final match count, and final scores
    accumulate per-term contributions of docs with count >= msm in
    sorted-term order (bit-parity with the DataFrame twin / oracle)."""
    range_size = 1 << range_bits
    n = len(term_order)

    def kernel(
        base: int, pdf: pd.DataFrame, M: np.ndarray | None
    ) -> tuple[pd.DataFrame, int]:
        # M: the chassis's static live bitmap (None = everything live)
        if len(set(pdf["term"].tolist()) & set(term_order)) < msm:
            return _empty_topk_pdf(), 0  # range can't hold an msm match
        skipped = 0
        cnt = np.zeros(range_size, dtype=np.int32)
        per_term: dict[str, np.ndarray] = {}
        by_term = {t: g for t, g in pdf.groupby("term")}
        C: np.ndarray | None = None  # viable set once counting binds
        for i, t in enumerate(term_order):
            # absent terms still advance i: viability math counts them as
            # a spent chance (they can't raise any doc's count)
            rows = by_term.get(t)
            gate = C if C is not None else M
            if rows is not None:
                idf = idfs[t]
                arr = np.zeros(range_size, dtype=np.float64)
                touched = False
                for row in rows.itertuples(index=False):
                    if gate is not None:
                        lo, hi = row.first_doc - base, row.last_doc - base
                        if not gate[lo : hi + 1].any():
                            skipped += 1
                            continue
                    ids, tfs = codec.unpack_block(row.doc_bytes, row.tf_bytes)
                    dls = codec.varbyte_decode(row.dl_bytes)
                    idx = ids - base
                    if gate is not None:
                        keep = gate[idx]
                        if not keep.any():
                            continue
                        idx, tfs, dls = idx[keep], tfs[keep], dls[keep]
                    # '=' not '+=': blocks partition a term's postings
                    arr[idx] = idf * codec.tf_norm(tfs, dls, avgdl)
                    cnt[idx] += 1
                    touched = True
                if touched:
                    per_term[t] = arr
            # viability after i+1 terms: cnt + (n - i - 1) >= msm
            need_now = msm - (n - 1 - i)
            if need_now >= 1:
                C = cnt >= need_now
                if not C.any():
                    return _empty_topk_pdf(), skipped
        # deterministic final accumulation: sorted-term order (oracle parity)
        final = np.zeros(range_size, dtype=np.float64)
        for t in sorted(per_term):
            final += per_term[t]
        nz = np.flatnonzero(cnt >= msm)
        return _local_topk(nz, final[nz], base, k), skipped

    return kernel


def _make_multiphrase_range_scorer(
    idf_q: float,
    avgdl: float,
    k: int,
    range_bits: int,
    groups: list[list[str]],
    slots: list[tuple[int, list[str]]],
):
    """Generalized positional block-max kernel for per-slot term SETS
    (``Searcher.topk_phrase_prefix``; Lucene MultiPhraseQuery): a doc
    matches when every query offset ``i`` in ``slots`` holds SOME member
    of its term set at position ``start + i``.

    * **pass 1** — per ``groups`` entry (conjunctive across groups, OR
      within one): the candidate bitmap intersects with the UNION of the
      group members' cheap-stream decodes; blocks whose span misses the
      running candidates skip undecoded; a group with no surviving doc
      aborts. A term appearing in several groups decodes once (its kept
      blocks are replayed against the current bitmap — lossless because
      the bitmap only shrinks).
    * **pass 2** — per slot: keys ``local_doc << 32 | (pos − offset)``
      union over the slot's members (sorted merge; two terms can never
      share a doc-position, so keys stay unique), then a running
      ``np.intersect1d`` across slots. ``phrase_tf`` = surviving keys
      per doc; score = idf_q · tf_norm (``_finish_positional_topk``).

    With singleton slots this degenerates to the exact phrase scorer;
    kept separate so the hot phrase path stays branch-free."""
    range_size = 1 << range_bits

    def kernel(
        base: int, pdf: pd.DataFrame, C: np.ndarray | None
    ) -> tuple[pd.DataFrame, int]:
        present = set(pdf["term"].tolist())
        if any(not (present & set(g)) for g in groups):
            return _empty_topk_pdf(), 0  # some required group absent
        skipped = 0
        by_term = {
            t: g.sort_values("first_doc") for t, g in pdf.groupby("term")
        }
        dl_arr = np.zeros(range_size, dtype=np.int64)
        kept: dict[str, list[tuple]] = {}
        for g in groups:
            newC = np.zeros(range_size, dtype=bool)
            for t in g:
                if t not in by_term:
                    continue
                if t in kept:  # decoded in an earlier group — replay
                    for _pb, idx, _tf in kept[t]:
                        live = C[idx] if C is not None else None
                        if live is None:
                            newC[idx] = True
                        elif live.any():
                            newC[idx[live]] = True
                    continue
                rows = []
                for row in by_term[t].itertuples(index=False):
                    if C is not None:
                        lo, hi = row.first_doc - base, row.last_doc - base
                        if not C[lo : hi + 1].any():
                            skipped += 1
                            continue
                    ids, tfs = codec.unpack_block(row.doc_bytes, row.tf_bytes)
                    idx = ids - base
                    dl_arr[idx] = codec.varbyte_decode(row.dl_bytes)
                    if C is not None:
                        live = C[idx]
                        if not live.any():
                            continue
                        newC[idx[live]] = True
                    else:
                        newC[idx] = True
                    rows.append((row.pos_bytes, idx, tfs))
                kept[t] = rows
            if not newC.any():
                return _empty_topk_pdf(), skipped
            C = newC
        # pass 2: per-slot positional keys over final candidates only
        running: np.ndarray | None = None
        for off, terms in slots:
            parts = []
            for t in terms:
                for pos_bytes, idx, tfs in kept.get(t, []):
                    live = C[idx]
                    if not live.any():
                        skipped += 1  # pos stream never decoded
                        continue
                    if len(pos_bytes) == 0 and tfs.sum() > 0:
                        raise ValueError(
                            "posting block has no position stream — the "
                            "index was built with positions=False; rebuild "
                            "with build_index(..., positions=True) for "
                            "phrase queries"
                        )
                    flat, _ = codec.unpack_positions(pos_bytes, tfs)
                    occ_doc = np.repeat(idx, tfs).astype(np.int64)
                    occ_live = np.repeat(live, tfs)
                    flat = flat[occ_live].astype(np.int64)
                    occ_doc = occ_doc[occ_live]
                    m = flat >= off
                    keys = (occ_doc[m] << 32) | (flat[m] - off)
                    if len(keys):
                        parts.append(keys)
            if not parts:
                return _empty_topk_pdf(), skipped
            slot_keys = np.concatenate(parts)
            if len(parts) > 1:
                slot_keys.sort()  # cross-term/cross-block concat order
            running = (
                slot_keys
                if running is None
                else np.intersect1d(running, slot_keys, assume_unique=True)
            )
            if not len(running):
                return _empty_topk_pdf(), skipped
        docs, ptf = np.unique(running >> 32, return_counts=True)
        return _finish_positional_topk(
            docs, ptf.astype(np.float64), dl_arr, base, idf_q, avgdl, k
        ), skipped

    return kernel


def _pass1_intersect(
    pdf: pd.DataFrame,
    term_order: list[str],
    base: int,
    range_size: int,
    C: np.ndarray | None,
) -> tuple:
    """Pass 1 of the positional range scorers (phrase + near): doc-level
    conjunctive intersection over the cheap ``doc_bytes``/``tf_bytes``
    streams only — positions are NEVER decoded here. Terms arrive in
    global-df-ascending ``term_order``; the candidate bitmap ``C``
    (seeded from the allow/tombstone masks, or None for "all live")
    intersects down after each term, blocks whose [first_doc, last_doc]
    span misses ``C`` are skipped undecoded, and an empty ``C`` at any
    point aborts. A doc missing any required term can never match, so
    every removal is lossless for both phrase and ordered-proximity
    semantics.

    Returns ``(C, dl_arr, kept, skipped)`` where ``kept[t]`` holds the
    surviving ``(pos_bytes, local_idx, tfs)`` block triples in first_doc
    order (so pass-2 key arrays concatenate already-sorted — blocks
    partition docs), or ``(None, None, None, skipped)`` when no doc can
    match."""
    skipped = 0
    by_term = {
        t: g.sort_values("first_doc") for t, g in pdf.groupby("term")
    }
    dl_arr = np.zeros(range_size, dtype=np.int64)
    kept: dict[str, list[tuple]] = {}
    for ti, t in enumerate(term_order):
        newC = np.zeros(range_size, dtype=bool)
        rows = []
        for row in by_term[t].itertuples(index=False):
            if C is not None:
                lo, hi = row.first_doc - base, row.last_doc - base
                if not C[lo : hi + 1].any():
                    skipped += 1
                    continue
            ids, tfs = codec.unpack_block(row.doc_bytes, row.tf_bytes)
            idx = ids - base
            if ti == 0:
                # dl for final scoring: the first (rarest) term's docs
                # are a superset of every later candidate set
                dl_arr[idx] = codec.varbyte_decode(row.dl_bytes)
            if C is not None:
                live = C[idx]
                if not live.any():
                    continue
                newC[idx[live]] = True
            else:
                newC[idx] = True
            rows.append((row.pos_bytes, idx, tfs))
        if not newC.any():
            return None, None, None, skipped
        kept[t] = rows
        C = newC
    return C, dl_arr, kept, skipped


def _finish_positional_topk(
    docs: np.ndarray,
    tf_f: np.ndarray,
    dl_arr: np.ndarray,
    base: int,
    idf_q: float,
    avgdl: float,
    k: int,
) -> pd.DataFrame:
    """Shared scoring tail of the positional range scorers: BM25 over the
    pseudo-term tf (phrase_tf / chain count) in the EXACT operation order
    of the JVM twin — ((idf·tf)·(k1+1))/denom; ``tf_norm()`` multiplies
    idf last, which differs by 1 ulp and breaks bit-parity with
    ``topk_phrase_dataframe``/``topk_near_dataframe``."""
    dls_f = dl_arr[docs].astype(np.float64)
    scores = (
        idf_q * tf_f * (codec.K1 + 1.0)
        / (tf_f + codec.K1 * (1.0 - codec.B + codec.B * dls_f / avgdl))
    )
    return _local_topk(docs, scores, base, k)


def _make_near_range_scorer(
    idf_q: float,
    avgdl: float,
    k: int,
    range_bits: int,
    term_order: list[str],
    qterms: list[str],
    gap: int,
):
    """Positional block-max ordered-proximity kernel for one doc range
    (``Searcher.topk_near``; the span_near(in_order=true) analogue of
    ``_make_phrase_range_scorer``, sharing its pass-1 doc intersection).

    Pass 2 is the weighted-chain dynamic program of the DataFrame twin
    (``topk_near_dataframe``), vectorized across ALL candidate docs at
    once instead of per-doc JVM folds: each query position's surviving
    occurrences are int64 keys ``local_doc << 32 | pos`` (ascending by
    construction), a step computes every occurrence's chain weight
    w(p) = Σ w(s) over same-doc predecessors s ∈ [p−gap, p−1] as TWO
    ``np.searchsorted`` calls against the previous step's key array plus
    a prefix-sum difference — O((tf+tf′)·log tf) per step, no Python
    loop over docs. ``chain_count`` per doc is the bincount of the final
    step's weights; score = (Σ idf(term_i)) · tf_norm(chain_count, dl,
    avgdl), bit-identical to the twin (gap=1 ≡ exact phrase).
    """
    range_size = 1 << range_bits

    def kernel(
        base: int, pdf: pd.DataFrame, C: np.ndarray | None
    ) -> tuple[pd.DataFrame, int]:
        if set(pdf["term"].tolist()) != set(term_order):
            return _empty_topk_pdf(), 0  # a required term absent from range
        C, dl_arr, kept, skipped = _pass1_intersect(
            pdf, term_order, base, range_size, C
        )
        if C is None:
            return _empty_topk_pdf(), skipped
        # pass 2a: occurrence keys per unique term, candidates only —
        # the position stream decodes IF the block still holds candidates
        occ: dict[str, np.ndarray] = {}
        for t in term_order:
            parts = []
            for pos_bytes, idx, tfs in kept[t]:
                live = C[idx]
                if not live.any():
                    skipped += 1  # pos stream never decoded
                    continue
                if len(pos_bytes) == 0 and tfs.sum() > 0:
                    raise ValueError(
                        "posting block has no position stream — the index "
                        "was built with positions=False; rebuild with "
                        "build_index(..., positions=True) for proximity "
                        "queries"
                    )
                flat, _ = codec.unpack_positions(pos_bytes, tfs)
                occ_doc = np.repeat(idx, tfs).astype(np.int64)
                occ_live = np.repeat(live, tfs)
                keys = (occ_doc[occ_live] << 32) | flat[occ_live].astype(
                    np.int64
                )
                if len(keys):
                    parts.append(keys)
            if not parts:
                return _empty_topk_pdf(), skipped
            occ[t] = np.concatenate(parts)
        # pass 2b: chain DP in query-position order, all docs at once
        prev_keys = occ[qterms[0]]
        prev_w = np.ones(len(prev_keys), dtype=np.int64)
        glit = np.int64(gap)
        for qt in qterms[1:]:
            cur = occ[qt]
            d = cur >> 32
            p = cur & np.int64(0xFFFFFFFF)
            # same-doc predecessors s with p-gap <= s <= p-1: a contiguous
            # key interval [lb, cur) in the sorted previous-step array
            lb = (d << 32) | np.maximum(p - glit, 0)
            cw = np.concatenate(([0], np.cumsum(prev_w)))
            lo = np.searchsorted(prev_keys, lb, side="left")
            hi = np.searchsorted(prev_keys, cur, side="left")
            w = cw[hi] - cw[lo]
            m = w > 0
            if not m.any():
                return _empty_topk_pdf(), skipped
            prev_keys, prev_w = cur[m], w[m]
        docs, inv = np.unique(prev_keys >> 32, return_inverse=True)
        chain = np.bincount(inv, weights=prev_w.astype(np.float64))
        return _finish_positional_topk(
            docs, chain, dl_arr, base, idf_q, avgdl, k
        ), skipped

    return kernel


# slop is capped so the scaled-integer sloppy_freq (Σ LCM(1..slop+1)/(1+d))
# stays exactly representable: LCM(1..21) ≈ 2.3e8, times any realistic
# per-doc window count (≤ dl) stays far below 2^53, so the float64 bincount
# sum is EXACT and the engine and the DuckDB oracle agree bit-for-bit with
# no float-summation-order hazard. ES's own default is slop=0; real queries
# use single digits.
MAX_SLOP = 20


def _slop_lcm(slop: int) -> int:
    return math.lcm(*range(1, slop + 2))


def _make_sloppy_range_scorer(
    idf_q: float,
    avgdl: float,
    k: int,
    range_bits: int,
    term_order: list[str],
    slots: list[tuple[str, int]],
    slop: int,
    ordered: bool,
):
    """Positional block-max kernel for sloppy / unordered proximity over
    one doc range — backs ``Searcher.topk_phrase(slop>0)`` (ES
    ``match_phrase`` + ``slop``; Lucene SloppyPhraseQuery) and
    ``Searcher.topk_near_unordered`` (ES ``span_near(in_order=false)``).
    Same chassis as ``_make_phrase_range_scorer``: pass 1 is the shared
    ``_pass1_intersect`` doc-level conjunction on the cheap streams (every
    slot term is still REQUIRED — sloppiness relaxes adjacency, not
    membership), pass 2 decodes positions for surviving candidates only
    and decoded positions never cross an executor.

    **Semantics (minimal-window interval model).** Each query slot j
    contributes the set A_j of *adjusted* positions: ``pos - offset_j``
    when ``ordered`` (the Lucene PhrasePositions shift — order violations
    consume budget: "b a" vs query "a b" has width 2, so ES's documented
    "slop=2 allows transposition" holds), raw ``pos`` when unordered. A
    candidate window is, for each event e in ∪A_j, ``[L(e), e]`` with
    ``L(e) = min_j max{a ∈ A_j : a ≤ e}`` (all slots present in the doc
    at or before e). L(e) is non-decreasing in e, so the *minimal* windows
    (those containing no smaller valid window) are exactly the first event
    attaining each distinct L — computed here as ``group by L, min(e)``,
    which is also what the DuckDB oracle twin evaluates. Per minimal
    window, ``distance = width`` (ordered) or ``width - (n_slots - 1)``
    (unordered: the slack tokens between the n span terms, Lucene
    NearSpansUnordered's matchWidth); the doc matches iff some window has
    distance ≤ slop and

        sloppy_freq = Σ_{windows, d ≤ slop} 1 / (1 + d)

    (Lucene SloppySimScorer slop factor), accumulated as exact scaled
    integers (see MAX_SLOP) and scored as the pseudo-term BM25 of the
    exact phrase path. ``slop=0`` ordered is bit-identical to
    ``topk_phrase`` (width 0 ⟺ consecutive terms; one window per phrase
    start). Documented deviation (docs/SCALE.md): a query term repeated
    at several slots may satisfy two slots with ONE physical token inside
    the slop budget (Lucene's repeats machinery forbids that); unordered
    mode collapses duplicate terms to one slot.

    Vectorized across all candidate docs at once: slot arrays are int64
    keys ``local_doc << 32 | (pos + maxoff - offset_j)`` (sorted by
    construction — blocks partition docs in first_doc order, positions
    ascend within docs, constant slot shift preserves order), L(e) is one
    ``np.searchsorted`` per slot over the merged unique event array, and
    the minimal-window reduction is ``np.unique`` + ``bincount``.
    """
    if not 0 <= slop <= MAX_SLOP:
        raise ValueError(f"slop must be in [0, {MAX_SLOP}], got {slop}")
    range_size = 1 << range_bits
    lcm = _slop_lcm(slop)
    maxoff = max(off for _, off in slots)
    dist_base = 0 if ordered else len(slots) - 1
    int64_max = np.iinfo(np.int64).max
    m32 = np.int64(0xFFFFFFFF)

    def kernel(
        base: int, pdf: pd.DataFrame, C: np.ndarray | None
    ) -> tuple[pd.DataFrame, int]:
        if set(pdf["term"].tolist()) != set(term_order):
            return _empty_topk_pdf(), 0  # a required term absent from range
        C, dl_arr, kept, skipped = _pass1_intersect(
            pdf, term_order, base, range_size, C
        )
        if C is None:
            return _empty_topk_pdf(), skipped
        # pass 2a: occurrence keys per unique term, candidates only (the
        # position stream decodes IF the block still holds candidates)
        occ: dict[str, np.ndarray] = {}
        for t in term_order:
            parts = []
            for pos_bytes, idx, tfs in kept[t]:
                live = C[idx]
                if not live.any():
                    skipped += 1  # pos stream never decoded
                    continue
                if len(pos_bytes) == 0 and tfs.sum() > 0:
                    raise ValueError(
                        "posting block has no position stream — the index "
                        "was built with positions=False; rebuild with "
                        "build_index(..., positions=True) for sloppy/"
                        "unordered proximity queries"
                    )
                flat, _ = codec.unpack_positions(pos_bytes, tfs)
                occ_doc = np.repeat(idx, tfs).astype(np.int64)
                occ_live = np.repeat(live, tfs)
                keys = (occ_doc[occ_live] << 32) | flat[occ_live].astype(
                    np.int64
                )
                if len(keys):
                    parts.append(keys)
            if not parts:
                return _empty_topk_pdf(), skipped
            occ[t] = np.concatenate(parts)
        # pass 2b: minimal-window sweep, all docs at once. Slot keys shift
        # by (maxoff - off) ≥ 0 so adjusted positions never borrow into
        # the doc bits; a constant shift keeps each array sorted.
        slot_keys = [
            occ[t] + np.int64(maxoff - off) if maxoff - off else occ[t]
            for t, off in slots
        ]
        events = np.unique(np.concatenate(slot_keys))
        left = np.full(len(events), int64_max)
        valid = np.ones(len(events), dtype=bool)
        for keys in slot_keys:
            pos = np.searchsorted(keys, events, side="right") - 1
            ok = pos >= 0
            last = keys[np.maximum(pos, 0)]
            ok &= (last >> 32) == (events >> 32)  # same doc
            valid &= ok
            left = np.minimum(left, np.where(ok, last, int64_max))
        events, left = events[valid], left[valid]
        if not len(events):
            return _empty_topk_pdf(), skipped
        # minimal windows = first event per distinct L (events ascend, so
        # np.unique's first-occurrence index IS min(e) per L group)
        u_left, first = np.unique(left, return_index=True)
        dist = ((events[first] & m32) - (u_left & m32)) - np.int64(dist_base)
        # distinct terms occupy distinct positions, so dist ≥ 0 always for
        # valid tokenizations; clamp defensively for degenerate inputs
        dist = np.maximum(dist, 0)
        hit = dist <= slop
        if not hit.any():
            return _empty_topk_pdf(), skipped
        w_scaled = (lcm // (1 + dist[hit])).astype(np.float64)
        docs, inv = np.unique(u_left[hit] >> 32, return_inverse=True)
        freq = np.bincount(inv, weights=w_scaled) / float(lcm)
        return _finish_positional_topk(
            docs, freq, dl_arr, base, idf_q, avgdl, k
        ), skipped

    return kernel


def _make_constscore_range_scorer(
    k: int,
    range_bits: int,
):
    """Early-terminating constant_score kernel for one doc range
    (``Searcher._topk_expanded`` rewrite="constant_score"; round-4 verdict
    item 3). The result contract is the first ``k`` live/allowed DISTINCT
    doc_ids in ascending order, so per range the scan can stop exactly:
    blocks (across every expansion term) are processed in ``first_doc``
    order; once ``k`` distinct docs are found, any later block whose
    ``first_doc`` exceeds the current kth-smallest found doc can only
    contain larger doc_ids — the remaining blocks are skipped undecoded
    and counted as skipped. Within the scan, blocks whose doc span holds
    no live doc (the chassis bitmap) skip undecoded too. Each range emits at most ``k`` rows; the global
    ``orderBy(doc_id).limit(k)`` is a TakeOrdered over ≤ k·n_ranges tiny
    rows. Replaces the decode-everything shape (flat_postings over every
    expansion block, then distinct→order→limit), which on a hot prefix
    with small k decoded the entire expansion set."""
    range_size = 1 << range_bits

    def kernel(
        base: int, pdf: pd.DataFrame, C: np.ndarray | None
    ) -> tuple[pd.DataFrame, int]:
        found = np.zeros(range_size, dtype=bool)
        n_found = 0
        kth = range_size  # local index of the kth-smallest found doc
        skipped = 0
        rows = list(
            pdf.sort_values("first_doc").itertuples(index=False)
        )
        for i, row in enumerate(rows):
            lo, hi = row.first_doc - base, row.last_doc - base
            if n_found >= k and lo > kth:
                # sorted by first_doc: no remaining block can hold a doc
                # smaller than the kth found — the tail is never decoded
                skipped += len(rows) - i
                break
            if C is not None and not C[lo : hi + 1].any():
                skipped += 1
                continue
            ids, _ = codec.unpack_block(row.doc_bytes, row.tf_bytes)
            idx = ids - base
            if C is not None:
                idx = idx[C[idx]]
            new = idx[~found[idx]]
            if len(new):
                found[new] = True
                n_found += len(new)
                if n_found >= k:
                    kth = int(np.flatnonzero(found)[k - 1])
        nz = np.flatnonzero(found)[:k]
        return pd.DataFrame(
            {
                "doc_id": (nz + base).astype("int64"),
                "score": np.ones(len(nz), dtype=np.float64),
            }
        ), skipped

    return kernel
