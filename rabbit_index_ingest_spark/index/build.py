"""Inverted-index build (SURVEY.md §2.2 B2-B4, §3.4 BUILD).

ONE pipeline builds every index. A document has one or more scored text
fields; a single-field index is simply the one-field case
(``build_index`` = ``build_index_multifield`` with ``{"text": text_col}``).
Shuffles marked *:

  scan transcripts (column-pruned to conv_id, turn_idx, field columns)
    → assign dense doc_id            *repartitionByRange(conv_id, turn_idx)
                                      numbering itself is pure JVM (counter
                                      + broadcast prefix offsets)
    → tokenize ONCE (JVM regexp)     — ``tokenized``: every field's token
                                      array in one persisted frame; docs/
                                      doc_stats/occurrences project from it
    → explode occurrences            (term, doc_id, dl) per field, unioned
                                      narrowly; non-default fields' terms
                                      prefixed ``<field>:``
    → pack blocks per (term, range)  *repartition(term, doc_id>>RANGE_BITS)
                                      + in-partition sort + streaming
                                      vectorized packer (tf by run-length —
                                      no separate groupBy stage). The doc
                                      range is the deterministic "salt": a
                                      hot term is split across ranges,
                                      bounding any one group to
                                      ≤ 2^RANGE_BITS postings (SURVEY.md
                                      §4.2 hot-term skew)
    → corpus stats                   one ungrouped sum of the blocks'
                                      tf_sum materializes them; with more
                                      than one field, one aggregation of
                                      the cached tokens → field_stats
    dictionary                       a lazy metadata rollup of the blocks
                                      (evaluated once, by the save)

Blocks are *self-contained* (doc gaps + tf + dl, all varbyte): the query
path never joins doc_stats — at 10^12 docs that join would be the dominant
shuffle. Cost: ~1-2 bytes/posting extra vs Lucene's separate norms file.

Replaces: the reference's per-message dict build + ES bulk index
(rabbit_indexer/index_updaters/base.py:102-109 routing into
ceda_elasticsearch_tools bulk writes; tokenization/indexing itself lived in
Elasticsearch 7.9.1, which this module re-implements natively).
"""

from __future__ import annotations

from array import array
from collections.abc import Iterator, Sequence
from dataclasses import dataclass, replace
from functools import reduce

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

from ..analysis import py_tokenize, tokens_expr
from ..functions.hashing import term_bucket
from . import codec

# Docs per BMW scoring range; blocks never span a range boundary.
# 13 (8192 docs/range) — the per-range scorers' parallelism unit: at 16
# a 210k-doc corpus had FOUR ranges, so every positional/blockmax stage
# ran on 4 of 32 cores (guide §2.5 "stage sits at 4/32"); 13 measured
# ~2× on the hot positional queries (phrase 1.12→0.76 s, near
# 1.64→0.77 s) while 11 over-fragments (block-count blowup: 518k vs
# 171k blocks). Persisted in corpus_stats; load() rejects a store built
# with a different value.
RANGE_BITS = 13

N_TERM_BUCKETS = 64  # storage partition count for term-pruned scans

BLOCKS_SCHEMA = T.StructType(
    [
        T.StructField("term", T.StringType(), False),
        T.StructField("range_id", T.LongType(), False),
        T.StructField("block_id", T.IntegerType(), False),
        T.StructField("first_doc", T.LongType(), False),
        T.StructField("last_doc", T.LongType(), False),
        T.StructField("n_docs", T.IntegerType(), False),
        T.StructField("doc_bytes", T.BinaryType(), False),
        T.StructField("tf_bytes", T.BinaryType(), False),
        T.StructField("dl_bytes", T.BinaryType(), False),
        # within-doc token positions (phrase/proximity queries) — empty
        # bytes when the index is built with positions=False; queries that
        # don't need positions never read the column (parquet pruning)
        T.StructField("pos_bytes", T.BinaryType(), False),
        # Lucene-style *impacts*: the block's max tf and min dl give an
        # upper bound idf·tf_norm(max_tf, min_dl, avgdl) on any doc's
        # contribution that stays valid when avgdl/df drift under
        # incremental segment appends (B7) — unlike a precomputed score.
        T.StructField("max_tf", T.LongType(), False),
        T.StructField("min_dl", T.LongType(), False),
        # block tf total — lets the dictionary be derived as a column-pruned
        # rollup of the blocks instead of a second tokenize+explode pass
        T.StructField("tf_sum", T.LongType(), False),
    ]
)


@dataclass
class BuiltIndex:
    """The four index tables (SURVEY.md §1.2: replaces ceda-fbi/ceda-dirs):
    DataFrames from a Spark build, Arrow tables from an in-process one
    (``build_index_arrow``)."""

    docs: DataFrame  # doc_id, conv_id, turn_idx, one column per field, dl
    doc_stats: DataFrame  # doc_id, conv_id, turn_idx, dl (default field)
    # one row: n_docs, avgdl, total_tokens (default field), next_doc_id,
    # positions, analyzer, range_bits
    corpus_stats: DataFrame
    dictionary: DataFrame  # term, df, cf, max_tf, min_dl, bucket
    postings: DataFrame  # BLOCKS_SCHEMA + bucket
    n_docs: int = 0
    avgdl: float = 0.0  # over the default field
    positions: bool = True  # whether pos_bytes carries the position stream
    analyzer: str = "simple"  # the index's analyzer (persisted in stats)
    cached: tuple = ()  # build-time persisted frames (toks, postings)
    # per-field statistics (field, doc_count, avgdl, total_tokens) with
    # Lucene semantics — doc_count counts docs with >= 1 token in the
    # field, avgdl = total_tokens / doc_count (BM25Similarity's
    # avgFieldLength). Only built with more than one field; None for a
    # one-field index, whose field stats are the corpus stats.
    field_stats: DataFrame | None = None
    # the field stored UNPREFIXED (persisted with field_stats so
    # upsert/merge rebuild with the same prefix layout)
    default_field: str = "text"
    # the doc-id space: a fresh build numbers its docs densely, so its ids
    # are exactly id_floor .. next_doc_id - 1 (id_floor = id_base); a
    # prenumbered build (a merge keeps its docs' ids) has id_floor None
    # and ids somewhere below next_doc_id (IndexStore.save checks the
    # written docs against this)
    id_floor: int | None = None
    next_doc_id: int = 0

    def release(self) -> None:
        """Unpersist build-time caches — call once the index is saved (or
        the built frames are no longer needed). Repeated upserts/compacts
        would otherwise leak executor cache."""
        for df in self.cached:
            df.unpersist()
        self.cached = ()


CORPUS_STATS_SCHEMA = T.StructType(
    [
        T.StructField("n_docs", T.LongType()),
        T.StructField("avgdl", T.DoubleType()),
        T.StructField("total_tokens", T.LongType()),
        T.StructField("next_doc_id", T.LongType()),
        T.StructField("positions", T.BooleanType()),
        T.StructField("analyzer", T.StringType()),
        T.StructField("range_bits", T.LongType()),
    ]
)
FIELD_STATS_SCHEMA = T.StructType(
    [
        T.StructField("field", T.StringType()),
        T.StructField("doc_count", T.LongType()),
        T.StructField("avgdl", T.DoubleType()),
        T.StructField("total_tokens", T.LongType()),
    ]
)


def literal_rows(spark: SparkSession, rows, schema: T.StructType) -> DataFrame:
    """A few driver-known rows as a JVM-only frame (literals over a
    one-partition range, no Python RDD): collecting it runs no Python
    worker, where ``createDataFrame(rows)`` forks one per core to yield a
    single row."""
    return spark.range(0, 1, 1, 1).select(
        F.inline(
            F.array(
                *[
                    F.struct(
                        *[
                            F.lit(v).cast(f.dataType).alias(f.name)
                            for v, f in zip(row, schema.fields)
                        ]
                    )
                    for row in rows
                ]
            )
        )
    )


def term_bucket_expr(col) -> F.Column:
    """Storage bucket for a term — enables partition-pruned query scans."""
    return F.pmod(F.xxhash64(col), F.lit(N_TERM_BUCKETS)).cast("int")


# ------------------------- multi-field indexing -------------------------
#
# Lucene keys every posting by (field, term); this engine does the same by
# PREFIXING non-default fields' tokens in the shared term keyspace:
# ``title:spark``. The separator ':' can never occur inside an analyzer
# token (tokens are maximal [\p{L}\p{N}] runs — analysis.py), so prefixed
# terms are collision-free, and the DEFAULT field's terms stay unprefixed —
# every existing single-field query mode keeps working on the default field
# of a multi-field index unchanged. One index, one scan, one dictionary:
# a prefixed term's dictionary row IS its per-field df, and its posting
# blocks carry the per-field dl stream, so multi-field BM25 needs no new
# storage — only per-field (doc_count, avgdl) stats (field_stats).

DEFAULT_FIELD = "text"
FIELD_SEP = ":"


def field_term(field: str, token: str, default_field: str = DEFAULT_FIELD) -> str:
    """Term key of ``token`` in ``field`` (driver-side twin of the build's
    prefix expression)."""
    return token if field == default_field else f"{field}{FIELD_SEP}{token}"


def assign_doc_ids(
    df: DataFrame,
    key_cols: tuple[str, str] = ("conv_id", "turn_idx"),
    num_partitions: int | None = None,
    persist: bool = True,
    id_base: int = 0,
) -> DataFrame:
    """Dense, stable int64 doc_id in (conv_id, turn_idx) order.

    Two-pass zipWithIndex-on-DataFrame without a single-partition sort
    (SURVEY.md §4.2): range-partition on the key, count rows per partition
    (tiny job), then number rows JVM-side (per-partition counter + prefix
    offset — see assign_doc_ids_with_count; no Arrow round-trip of the
    corpus). The input is persisted between the two passes
    so both see identical partitioning. doc_id order is isomorphic to
    (conv_id, turn_idx) order — the engine's tie-break therefore matches the
    oracle's (score desc, conv_id asc, turn_idx asc).
    """
    df2, _, _ = assign_doc_ids_with_count(df, key_cols, num_partitions, persist, id_base)
    return df2


def _presorted_partition_offsets(
    df: DataFrame, key_cols: tuple[str, str]
) -> tuple[dict[int, int], int] | None:
    """Per-partition row counts for doc-id assignment WITHOUT the range
    shuffle, when the input is already partition-wise ordered by the key:
    every partition internally non-decreasing on (k1, k2) AND partition
    key ranges pairwise disjoint (a parquet corpus written in key order —
    e.g. any ingest clustered by conversation — satisfies both; guide-§8
    shape: the decision needs only keys, so the heavy text column should
    cross the network zero times, not once).

    The probe is ONE shuffle-free, column-pruned job: ``mapInArrow`` over
    (partition_id, k1, k2) streams each partition's batches in order and
    emits a single stats row (count, sorted?, first/last key) per
    partition — sortedness via vectorized Arrow comparisons, min/max for
    free because a sorted partition's min/max are its first/last rows.
    Returns offsets keyed by partition id (ordered by first key, so doc
    ids stay isomorphic to (k1, k2) order) and the total row count, or
    None when the precondition fails and the caller must range-shuffle.

    Safety gate: the fast path relies on (a) the scan partitioning and
    per-partition row ORDER being identical between the probe job and
    the numbering job, and (b) ``spark_partition_id()`` evaluating per
    TASK. Both hold for narrow plans over a file scan within a session;
    they do NOT hold upstream of an Exchange (shuffle fetch order is
    nondeterministic) or over a LocalRelation (Catalyst's
    ConvertToLocalRelation folds projections driver-side — observed:
    every partition reporting pid 0), so the plan must contain a
    FileScan leaf and no Exchange/rand(); duplicate probe pids reject as
    a belt-and-braces check. Key types are restricted to string/integral
    (Python-side range comparison must match Spark ordering; UTF-8
    binary order == code-point order)."""
    try:
        plan = df._jdf.queryExecution().executedPlan().toString()
    except Exception:
        return None
    if "Exchange" in plan or "rand(" in plan.lower():
        return None
    if "FileScan" not in plan:
        return None
    k1, k2 = key_cols
    t1, t2 = df.schema[k1].dataType, df.schema[k2].dataType
    _ok_types = (
        T.StringType, T.IntegerType, T.LongType, T.ShortType, T.ByteType,
    )
    if not (isinstance(t1, _ok_types) and isinstance(t2, _ok_types)):
        return None

    probe_schema = T.StructType(
        [
            T.StructField("_pid", T.IntegerType(), False),
            T.StructField("_cnt", T.LongType(), False),
            T.StructField("_sorted", T.BooleanType(), False),
            T.StructField("_first1", t1, True),
            T.StructField("_first2", t2, True),
            T.StructField("_last1", t1, True),
            T.StructField("_last2", t2, True),
        ]
    )

    def _pa_type(t):
        import pyarrow as pa

        return {
            "string": pa.string(), "integer": pa.int32(),
            "long": pa.int64(), "short": pa.int16(), "byte": pa.int8(),
        }[t.typeName()]

    pa_t1, pa_t2 = _pa_type(t1), _pa_type(t2)

    def probe(batches):
        import pyarrow as pa
        import pyarrow.compute as pc

        pid = None
        cnt = 0
        ok = True
        first = last = None  # (k1 scalar, k2 scalar)
        for batch in batches:
            n = batch.num_rows
            if n == 0:
                continue
            if pid is None:
                pid = batch.column("_pid")[0].as_py()
                first = (batch.column("_k1")[0], batch.column("_k2")[0])
            a1, a2 = batch.column("_k1"), batch.column("_k2")
            if ok:
                if a1.null_count or a2.null_count:
                    ok = False
                elif n > 1:
                    p1, p2 = a1.slice(0, n - 1), a2.slice(0, n - 1)
                    c1, c2 = a1.slice(1), a2.slice(1)
                    nondec = pc.or_(
                        pc.greater(c1, p1),
                        pc.and_(pc.equal(c1, p1), pc.greater_equal(c2, p2)),
                    )
                    if pc.all(nondec).as_py() is not True:
                        ok = False
                if ok and last is not None:
                    lo1, lo2 = last
                    hi1, hi2 = a1[0], a2[0]
                    if not (
                        hi1.as_py() > lo1.as_py()
                        or (
                            hi1.as_py() == lo1.as_py()
                            and hi2.as_py() >= lo2.as_py()
                        )
                    ):
                        ok = False
            last = (a1[n - 1], a2[n - 1])
            cnt += n
        if pid is not None:
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array([pid], pa.int32()),
                    pa.array([cnt], pa.int64()),
                    pa.array([ok]),
                    pa.array([first[0].as_py()], pa_t1),
                    pa.array([first[1].as_py()], pa_t2),
                    pa.array([last[0].as_py()], pa_t1),
                    pa.array([last[1].as_py()], pa_t2),
                ],
                names=[
                    "_pid", "_cnt", "_sorted",
                    "_first1", "_first2", "_last1", "_last2",
                ],
            )

    rows = (
        df.select(
            F.spark_partition_id().alias("_pid"),
            F.col(k1).alias("_k1"),
            F.col(k2).alias("_k2"),
        )
        .mapInArrow(probe, probe_schema)
        .collect()
    )
    if not rows:
        return {}, 0
    if len({r["_pid"] for r in rows}) != len(rows):
        return None  # pid collision — partition ids not trustworthy
    if not all(r["_sorted"] for r in rows):
        return None
    by_first = sorted(
        rows, key=lambda r: (r["_first1"], r["_first2"], r["_pid"])
    )
    # pairwise-disjoint, strictly increasing partition key ranges (an
    # equal boundary key would make the relative order ambiguous)
    for prev, nxt in zip(by_first, by_first[1:]):
        if (prev["_last1"], prev["_last2"]) >= (nxt["_first1"], nxt["_first2"]):
            return None
    offsets: dict[int, int] = {}
    acc = 0
    for r in by_first:
        offsets[r["_pid"]] = acc
        acc += r["_cnt"]
    return offsets, acc


def assign_doc_ids_with_count(
    df: DataFrame,
    key_cols: tuple[str, str] = ("conv_id", "turn_idx"),
    num_partitions: int | None = None,
    persist: bool = True,
    id_base: int = 0,
) -> tuple[DataFrame, int, DataFrame | None]:
    """assign_doc_ids + the total row count (free — it is the final prefix
    offset), so callers don't need a separate count() job. Third return
    value is the internally persisted range-partitioned frame (None when
    ``persist=False``) so callers can unpersist it once downstream results
    are materialized (executor-cache hygiene across repeated upserts).

    The numbering itself is **pure JVM**: within-partition index from
    ``monotonically_increasing_id``'s low 33 bits (per-partition counter in
    row order — the documented layout) plus the broadcast per-partition
    prefix offset keyed on ``spark_partition_id``. Earlier versions
    numbered in mapInPandas, which round-tripped the ENTIRE corpus
    (including text) through Arrow→pandas→Arrow once per build — measured
    as the second-largest stage of the whole pipeline. Both passes read
    the same persisted frame, so they see identical partitioning.
    """
    spark = df.sparkSession
    # FAST PATH (guide §8 "decide with small rows, move big rows never"):
    # input already partition-wise ordered by the key — number in place
    # from a shuffle-free, column-pruned stats probe. The text payload is
    # never shuffled and nothing needs an extra persist; falls back to
    # the range shuffle whenever the precondition or safety gate fails.
    fast = _presorted_partition_offsets(df, key_cols)
    if fast is not None:
        offsets, n_rows = fast
        off = {pid: id_base + o for pid, o in offsets.items()}
        return _number_from_offsets(df, off, id_base, spark), n_rows, None

    # partition count follows the shuffle-partitions conf (a data-size
    # knob), NOT the core count — the same job must produce the same
    # partitioning at any cluster size, and partitions must stay small
    # enough not to spill (size spark.sql.shuffle.partitions for the data)
    nparts = num_partitions or int(spark.conf.get("spark.sql.shuffle.partitions"))
    ranged = df.repartitionByRange(nparts, *key_cols).sortWithinPartitions(*key_cols)
    if persist:
        ranged = ranged.persist()
    counts = (
        ranged.withColumn("_pid", F.spark_partition_id())
        .groupBy("_pid")
        .count()
        .collect()
    )
    sizes = {r["_pid"]: r["count"] for r in counts}
    offsets = {}
    acc = id_base
    for pid in sorted(sizes):
        offsets[pid] = acc
        acc += sizes[pid]
    n_rows = acc - id_base
    out = _number_from_offsets(ranged, offsets, id_base, spark, orig_cols=df.columns)
    return out, n_rows, (ranged if persist else None)


def _number_from_offsets(
    src: DataFrame,
    offsets: dict[int, int],
    id_base: int,
    spark: SparkSession,
    orig_cols: list[str] | None = None,
) -> DataFrame:
    """Attach ``doc_id = offsets[partition] + within-partition index`` —
    pure JVM (``monotonically_increasing_id``'s low 33 bits are the
    per-partition row counter). Shared by the range-shuffle and the
    presorted fast path."""
    local_idx = F.monotonically_increasing_id().bitwiseAND(F.lit((1 << 33) - 1))
    if len(offsets) <= 8192:
        # small partition count: inline the offset table as a map literal
        flat = [F.lit(x) for kv in offsets.items() for x in kv]
        offset_expr = (
            F.create_map(*flat)[F.spark_partition_id()] if flat else F.lit(id_base)
        )
        return src.select(
            (offset_expr.cast("long") + local_idx).alias("doc_id"), "*"
        )
    # huge partition counts (10^12-scale builds): a map literal would
    # bloat the plan — broadcast-join the offset table on partition id
    # (BHJ streams the probe side, preserving intra-partition order)
    off_df = spark.createDataFrame(
        sorted(offsets.items()), "_pid int, _off long"
    )
    return (
        src.withColumn("_pid", F.spark_partition_id())
        .withColumn("_lid", local_idx)
        .join(F.broadcast(off_df), "_pid")
        .select(
            (F.col("_off") + F.col("_lid")).alias("doc_id"),
            *[F.col(c) for c in (orig_cols or src.columns)],
        )
    )


_BLOCK_COLS = [f.name for f in BLOCKS_SCHEMA.fields]


def _pack_stream_fn(
    block_size: int, range_bits: int = RANGE_BITS, positions: bool = False
):
    """Streaming mapInPandas packer: consumes Arrow batches of raw token
    occurrences — (term, doc_id, dl) without positions, (term, doc_id,
    dlpos) with them (``dlpos = dl<<32 | pos``: one 8-byte slot instead of
    two on THE shuffle; decoded vectorized here) — sorted by
    (term, doc_id[, pos]) within the partition, carrying the (possibly
    batch-spanning) trailing (term, range) group over to the next batch.

    tf is computed by run-length encoding the sorted doc_ids (replaces a
    whole groupBy(term, doc) shuffle stage — one shuffle instead of two);
    range_id is derived here from doc_id (>> range_bits) instead of riding
    the shuffle — 8 bytes/row less shuffle traffic. All packing is
    batch-wide vectorized numpy (codec.pack_batch): no per-group or
    per-block Python loop. vs groupBy().applyInPandas: one frame per ARROW
    BATCH instead of one per GROUP (a 210k-turn corpus has ~60k groups)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        carry: tuple[np.ndarray, ...] | None = None
        for batch in batches:
            terms = batch["term"].to_numpy()
            ids = batch["doc_id"].to_numpy(dtype=np.int64)
            if positions:
                dlpos = batch["dlpos"].to_numpy(dtype=np.int64)
                dls = dlpos >> 32
                poss = dlpos & 0xFFFFFFFF
            else:
                dls = batch["dl"].to_numpy(dtype=np.int64)
                poss = None
            if carry is not None:
                terms = np.concatenate((carry[0], terms))
                ids = np.concatenate((carry[1], ids))
                dls = np.concatenate((carry[2], dls))
                if positions:
                    poss = np.concatenate((carry[3], poss))
            if not len(ids):
                carry = None
                continue
            ranges = ids >> range_bits
            change = (
                np.flatnonzero(
                    (ranges[1:] != ranges[:-1]) | (terms[1:] != terms[:-1])
                )
                + 1
            )
            if len(change) == 0:
                # single (possibly continuing) group
                carry = (terms, ids, dls) + ((poss,) if positions else ())
                continue
            last = int(change[-1])
            carry = (terms[last:], ids[last:], dls[last:]) + (
                (poss[last:],) if positions else ()
            )
            cols = codec.pack_batch(
                terms[:last], ranges[:last], ids[:last], dls[:last],
                block_size, pos=poss[:last] if positions else None,
            )
            yield pd.DataFrame(cols, columns=_BLOCK_COLS)
        if carry is not None and len(carry[0]):
            terms, ids, dls = carry[:3]
            cols = codec.pack_batch(
                terms, ids >> range_bits, ids, dls, block_size,
                pos=carry[3] if positions else None,
            )
            yield pd.DataFrame(cols, columns=_BLOCK_COLS)

    return run


def dictionary_from_blocks(postings: DataFrame) -> DataFrame:
    """Dictionary (term → df, cf, impacts) as a rollup of posting blocks.

    Reads only the five metadata columns — when the blocks come from
    parquet, column pruning means the (much larger) compressed byte columns
    are never touched. This replaces a second full tokenize+explode+groupBy
    pass over the corpus. NOTE: if ``postings`` is an unpersisted in-memory
    lineage, evaluating the dictionary recomputes the pack stage — persist
    postings (or write them, as IndexStore.save does) first.
    """
    return (
        postings.groupBy("term")
        .agg(
            F.sum("n_docs").alias("df"),
            F.sum("tf_sum").alias("cf"),
            F.max("max_tf").alias("max_tf"),
            F.min("min_dl").alias("min_dl"),
        )
        .withColumn("bucket", term_bucket_expr(F.col("term")))
    )


def tokenized(
    numbered: DataFrame, fields: list[str], analyzer: str = "simple"
) -> DataFrame:
    """The build's ONE tokenize pass over ``numbered`` (doc_id, conv_id,
    turn_idx, one column per field): each field's source column as
    ``_src_<field>`` beside its token array ``_toks_<field>``. The core
    persists this frame; docs, doc_stats and the occurrences are all
    projections of it, so the tokenizer runs once per build."""
    return numbered.select(
        "doc_id",
        "conv_id",
        "turn_idx",
        *[F.col(f).alias(f"_src_{f}") for f in fields],
        *[tokens_expr(F.col(f), analyzer).alias(f"_toks_{f}") for f in fields],
    )


def pack_postings(
    toks: DataFrame,
    fields: list[str],
    default_field: str = DEFAULT_FIELD,
    block_size: int = codec.BLOCK_SIZE,
    range_bits: int = RANGE_BITS,
    positions: bool = True,
) -> DataFrame:
    """Posting blocks (BLOCKS_SCHEMA + bucket) of a ``tokenized`` frame.

    Each field contributes its raw token occurrences (term, doc_id, dl) —
    non-default fields' terms prefixed ``<field>:`` — and the per-field
    frames are unioned NARROWLY (projections of the same frame, no
    shuffle). dl is the FIELD's token count and rides along (it is
    functionally dependent on doc_id) so pack never joins doc_stats.
    range_id deliberately does NOT ride the shuffle: it is a pure function
    of doc_id, re-derived inside the packer (8 B/row saved), and sorting
    by (term, doc_id) already sorts by (term, range, doc).

    positions=True packs (dl, pos) into ONE int64 `dlpos = dl<<32 | pos`
    so a positional occurrence row is the SAME width on the shuffle as a
    non-positional one (UnsafeRow fields are 8-byte slots — a separate
    `pos` column costs a full 8 B/occurrence; the single-box N→4N scaling
    bottleneck is shuffle/memory BANDWIDTH, which cores don't scale, so
    every shuffled byte is paid at efficiency). Sorting by (term, doc_id,
    dlpos) ≡ (term, doc_id, pos) because dl is constant within a doc.
    Bounds: dl < 2^31 and pos < 2^32 (pos < dl holds by construction) keep
    dlpos positive — a 2-billion-token single doc is beyond any transcript
    turn.

    ONE shuffle for the whole postings build: repartition on
    (term, doc_range) + in-partition sort + streaming mapInPandas packer
    (tf computed by run-length inside pack — no separate groupBy stage).
    The doc range is the deterministic anti-skew salt: a hot term spreads
    over doc ranges, so no single shuffle partition can exceed
    ~2^range_bits postings per term. Partition count = shuffle conf
    (data-size knob)."""

    def occurrences(f: str) -> DataFrame:
        tcol = f"_toks_{f}"
        term = (
            F.col("term")
            if f == default_field
            else F.concat(F.lit(f + FIELD_SEP), F.col("term"))
        )
        if positions:
            occ = toks.select(
                "doc_id",
                F.size(tcol).alias("dl"),
                F.posexplode(tcol).alias("pos", "term"),
            )
            dl = (
                F.shiftleft(F.col("dl").cast("long"), 32) + F.col("pos")
            ).alias("dlpos")
        else:
            occ = toks.select(
                "doc_id", F.size(tcol).alias("dl"), F.explode(tcol).alias("term")
            )
            dl = F.col("dl")
        return occ.select("doc_id", dl, term.alias("term"))

    occ = reduce(DataFrame.unionByName, map(occurrences, fields))
    nparts = int(toks.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    sort_cols = ["term", "doc_id"] + (["dlpos"] if positions else [])
    return (
        occ.repartition(nparts, F.col("term"), F.shiftright("doc_id", range_bits))
        .sortWithinPartitions(*sort_cols)
        .mapInPandas(
            _pack_stream_fn(block_size, range_bits, positions), BLOCKS_SCHEMA
        )
        .withColumn("bucket", term_bucket_expr(F.col("term")))
    )


def build_index(
    spark: SparkSession,
    transcripts: DataFrame,
    id_col: str = "conv_id",
    order_col: str = "turn_idx",
    text_col: str = "text",
    block_size: int = codec.BLOCK_SIZE,
    range_bits: int = RANGE_BITS,
    id_base: int = 0,
    persist_postings: bool = True,
    positions: bool = True,
    analyzer: str = "simple",
) -> BuiltIndex:
    """Build all four index tables from a transcript DataFrame — the
    one-field case of ``build_index_multifield`` (``text_col`` is the
    ``text`` field).

    ``id_base`` offsets doc_ids (segment appends start above the existing
    max doc_id, SURVEY.md B7).

    ``positions=True`` (default — matching Elasticsearch, which indexes
    positions unless ``index_options`` lowers them) additionally stores
    per-occurrence within-doc token positions (``pos_bytes``, codec
    position stream) enabling phrase queries (``Searcher.topk_phrase``).
    Cost: one int column more on THE shuffle (~1-2 B/occurrence after
    compression) and one more varbyte stream in pack; BM25-only pipelines
    can pass False — the schema is identical (empty ``pos_bytes``) and
    non-phrase queries never read the column (parquet column pruning).

    ``persist_postings=True`` (default; right for corpora that fit the
    cluster's cache+spill) materializes the blocks once. At extreme scale
    pass False and let IndexStore.save sequence the postings-write before
    the dictionary rollup instead.
    """
    return build_index_multifield(
        spark, transcripts, {DEFAULT_FIELD: text_col}, id_col, order_col,
        block_size=block_size, range_bits=range_bits, id_base=id_base,
        persist_postings=persist_postings, positions=positions,
        analyzer=analyzer,
    )


def build_index_multifield(
    spark: SparkSession,
    transcripts: DataFrame,
    fields: dict[str, str],
    id_col: str = "conv_id",
    order_col: str = "turn_idx",
    default_field: str = DEFAULT_FIELD,
    block_size: int = codec.BLOCK_SIZE,
    range_bits: int = RANGE_BITS,
    id_base: int = 0,
    persist_postings: bool = True,
    positions: bool = True,
    analyzer: str = "simple",
) -> BuiltIndex:
    """Build ONE index over one or more scored text fields (ES multi-field
    documents; the reference's own docs carry title/url/record_type/readme
    beside the path — rabbit_indexer/utils/path_tools.py:160-177).

    ``fields`` maps field name → source column; ``default_field`` must be
    one of them — its tokens are stored UNPREFIXED (plain ``topk_*`` query
    modes keep working on it), every other field's tokens are stored as
    ``<field>:<token>`` (see the module's multi-field note). Each field's
    posting blocks carry that FIELD's dl stream, so per-field BM25 length
    normalization needs no extra storage, and a prefixed term's dictionary
    df IS its per-field document frequency.

    Doc ids are assigned once (``assign_doc_ids_with_count``: n_docs falls
    out of its offset pass), then ``build_index_prenumbered`` runs the one
    build pipeline. At 10^12 turns a multi-field build costs one shuffle
    of Σ_f |occurrences_f| rows — the same bytes Lucene moves, with the
    same hot-term salting per (possibly prefixed) term.
    """
    if default_field not in fields:
        raise ValueError(
            f"default_field {default_field!r} must be one of {sorted(fields)}"
        )
    for f in fields:
        if FIELD_SEP in f or not f or f in ("doc_id", "conv_id", "turn_idx", "dl"):
            raise ValueError(f"bad field name {f!r}")
    src_cols = [c for c in dict.fromkeys(fields.values())]
    assigned, n_docs, ranged_cache = assign_doc_ids_with_count(
        transcripts.select(id_col, order_col, *src_cols),
        key_cols=(id_col, order_col),
        id_base=id_base,
    )
    numbered = assigned.select(
        "doc_id",
        F.col(id_col).alias("conv_id"),
        F.col(order_col).alias("turn_idx"),
        *[F.col(src).alias(f) for f, src in fields.items()],
    )
    built = build_index_prenumbered(
        spark,
        numbered,
        list(fields),
        default_field=default_field,
        n_docs=n_docs,
        next_doc_id=id_base + n_docs,
        block_size=block_size,
        range_bits=range_bits,
        persist_postings=persist_postings,
        positions=positions,
        analyzer=analyzer,
        _ranged_cache=ranged_cache,
    )
    return replace(built, id_floor=id_base)


def build_index_prenumbered(
    spark: SparkSession,
    numbered: DataFrame,
    fields: Sequence[str] = (DEFAULT_FIELD,),
    default_field: str = DEFAULT_FIELD,
    n_docs: int | None = None,
    next_doc_id: int | None = None,
    block_size: int = codec.BLOCK_SIZE,
    range_bits: int = RANGE_BITS,
    persist_postings: bool = True,
    positions: bool = True,
    analyzer: str = "simple",
    _ranged_cache: DataFrame | None = None,
) -> BuiltIndex:
    """Build the index tables from an ALREADY-NUMBERED corpus —
    ``numbered`` carries (doc_id, conv_id, turn_idx, one column per field,
    named BY the field) with unique int64 doc_ids the caller owns. This is
    the id-preserving core that ``build_index_multifield`` wraps (it
    assigns dense ids first) and that segment merging
    (IndexStore.merge_segments) calls directly: a merged segment must keep
    its docs' GLOBAL doc_ids so tombstones, tie-breaks and the other
    segments' id space stay valid.

    Exactly ONE heavy pipeline pass runs over the corpus: tokenize →
    explode → pack (``tokenized`` → ``pack_postings``). The dictionary is
    a lazy metadata rollup of the packed blocks. ONE job materializes
    the postings: the ungrouped sum of the blocks' ``tf_sum`` (= Σ cf, the
    total token count of every field), so the dictionary's groupBy runs
    once, when the save writes it.
    ``corpus_stats``/``n_docs``/``avgdl``/``doc_stats`` describe the
    DEFAULT field (a multi-field index scores default-field queries
    identically to a single-field build of that column — test-pinned).
    With more than one field, one extra aggregation over the cached
    tokens yields ``field_stats`` with Lucene semantics (doc_count = docs
    with ≥ 1 token in the field, avgdl = total_tokens / doc_count —
    BM25Similarity.avgFieldLength); a one-field build has none.

    ``n_docs``/``next_doc_id`` are computed with one count / max job when
    not supplied (callers that already know them — the id assignment's
    offset pass, merge's per-segment stats — pass them to skip the
    jobs)."""
    fields = list(fields)
    if n_docs is None:
        n_docs = numbered.count()
    if next_doc_id is None:
        row = numbered.agg(F.max("doc_id").alias("m")).collect()[0]
        next_doc_id = (int(row["m"]) + 1) if row["m"] is not None else 0
    toks = tokenized(numbered, fields, analyzer).persist()

    # docs (the ES _source analogue) carries dl so doc_stats is a pure
    # column-pruned projection of the written docs table — IndexStore.save
    # exploits this to avoid a second tokenize pass.
    dl = F.size(f"_toks_{default_field}").alias("dl")
    docs = toks.select(
        "doc_id",
        "conv_id",
        "turn_idx",
        *[F.col(f"_src_{f}").alias(f) for f in fields],
        dl,
    )
    doc_stats = toks.select("doc_id", "conv_id", "turn_idx", dl)

    postings = pack_postings(
        toks, fields, default_field, block_size, range_bits, positions
    )
    if persist_postings:
        postings = postings.persist()

    dictionary = dictionary_from_blocks(postings)

    # this action materializes postings → toks caches (Σ tf_sum = Σ cf, so
    # the total needs no dictionary groupBy); once toks is cached the
    # range-partitioned input cache is redundant — drop it immediately
    # (executor-cache hygiene across repeated upserts/compactions)
    total_tokens = int(
        postings.agg(F.sum("tf_sum").alias("t")).collect()[0]["t"] or 0
    )
    field_stats = None
    if len(fields) > 1:
        # per-field stats in ONE aggregation job over the cached toks
        # frame; the dictionary total above spans every field, the
        # corpus total is the default field's share
        aggs = []
        for f in fields:
            sz = F.size(f"_toks_{f}")
            aggs.append(F.sum(F.when(sz > 0, 1).otherwise(0)).alias(f"_dc_{f}"))
            aggs.append(F.sum(sz.cast("long")).alias(f"_tt_{f}"))
        row = toks.agg(*aggs).collect()[0]
        fs_rows = []
        for f in fields:
            dc = int(row[f"_dc_{f}"] or 0)
            tt = int(row[f"_tt_{f}"] or 0)
            fs_rows.append((f, dc, (tt / dc) if dc else 0.0, tt))
        field_stats = literal_rows(spark, fs_rows, FIELD_STATS_SCHEMA)
        total_tokens = int(row[f"_tt_{default_field}"] or 0)
    if _ranged_cache is not None:
        _ranged_cache.unpersist()
    avgdl = (total_tokens / n_docs) if n_docs else 0.0
    # next_doc_id: the id-space high-water mark — carrying it in the 1-row
    # stats table lets IndexStore.load() avoid a max(doc_id) scan of the
    # docs table (at 10^12 docs that scan is a real job; this is a
    # constant). For a fresh build it is id_base + n_docs (contiguous
    # ids); a merged segment passes the max over the segments it replaces.
    # The positions flag, analyzer and range layout are PERSISTED with the
    # stats so upsert/merge follow the index's settings instead of
    # sampling blocks (a sampled probe made the merged format
    # nondeterministic on a mixed index).
    corpus_stats = literal_rows(
        spark,
        [(n_docs, avgdl, total_tokens, next_doc_id, positions, analyzer,
          range_bits)],
        CORPUS_STATS_SCHEMA,
    )
    return BuiltIndex(
        docs=docs,
        doc_stats=doc_stats,
        corpus_stats=corpus_stats,
        dictionary=dictionary,
        postings=postings,
        n_docs=n_docs,
        avgdl=avgdl,
        positions=positions,
        analyzer=analyzer,
        cached=(toks, postings) if persist_postings else (toks,),
        field_stats=field_stats,
        default_field=default_field,
        next_doc_id=next_doc_id,
    )


# ------------------------ in-process (driver) build ------------------------
#
# A micro-batch segment of a few dozen docs costs the Spark build about a
# dozen jobs, nearly all of it scheduling rather than work (the Python UDF
# paper's point in PAPERS: on small inputs the cost of invoking an
# operator outweighs its body). ``build_index_arrow`` builds the same
# tables in this process from an Arrow table: the analyzer's Python twin
# (``py_tokenize``; parity pinned by tests/test_analysis.py), the same
# packer (``codec.pack_batch``) fed the occurrences in the shuffle's
# (term, doc_id, pos) order, and the bucket hash's Python twin
# (``hashing.term_bucket``). IndexStore routes a segment here below its
# driver threshold; every table equals the Spark build's (test-pinned).


class _Vocab(dict):
    """term -> int code, numbered in first-seen order."""

    def __missing__(self, term: str) -> int:
        code = self[term] = len(self)
        return code


def assign_doc_ids_arrow(batch: pa.Table, id_base: int = 0) -> pa.Table:
    """Driver twin of ``assign_doc_ids``: ``batch`` sorted by (conv_id,
    turn_idx) — nulls first and strings by UTF-8 bytes, Spark's ascending
    order — with ``doc_id = id_base + rank`` prepended."""
    order = pc.sort_indices(
        batch,
        sort_keys=[("conv_id", "ascending"), ("turn_idx", "ascending")],
        null_placement="at_start",
    )
    ordered = batch.take(order)
    ids = np.arange(id_base, id_base + ordered.num_rows, dtype=np.int64)
    return ordered.add_column(0, "doc_id", pa.array(ids))


def build_index_arrow(
    docs: pa.Table,
    fields: Sequence[str] = (DEFAULT_FIELD,),
    default_field: str = DEFAULT_FIELD,
    id_base: int | None = None,
    next_doc_id: int | None = None,
    block_size: int = codec.BLOCK_SIZE,
    range_bits: int = RANGE_BITS,
    positions: bool = True,
    analyzer: str = "simple",
) -> BuiltIndex:
    """In-process build: a ``BuiltIndex`` whose tables are Arrow tables
    equal to the Spark build's. With ``id_base`` it is the twin of
    ``build_index_multifield`` — ``docs`` holds (conv_id, turn_idx, one
    column per field) and is numbered densely from ``id_base`` by
    ``assign_doc_ids_arrow``; without, the twin of
    ``build_index_prenumbered`` — ``docs`` carries its own ``doc_id``
    (a merge keeps its docs' ids), all below ``next_doc_id``. The caller
    bounds the size: everything is held here."""
    fields = list(fields)
    id_floor = id_base
    if id_base is not None:
        docs = assign_doc_ids_arrow(docs, id_base)
        next_doc_id = id_base + docs.num_rows
    else:
        docs = docs.sort_by("doc_id")
    docs = docs.combine_chunks()
    n_docs = docs.num_rows
    ids = docs["doc_id"].to_numpy()

    # every field's occurrences (term, doc_id, dl, pos), as pack_postings
    # explodes them; a field's token count is its dl (null for a null
    # source, as Spark's size(null) under ANSI). Terms are coded as ints
    # while they are read, so no per-occurrence string is kept, and the
    # per-token work (prefix, code lookup) stays in C-level map() calls.
    vocab = _Vocab()
    occ_codes, occ_ids, occ_dls, occ_pos, lens = [], [], [], [], {}
    for f in fields:
        prefix = "" if f == default_field else f + FIELD_SEP
        codes, n_toks = array("q"), []
        for text in docs[f].to_pylist():
            toks = py_tokenize(text, analyzer)
            n_toks.append(len(toks))
            codes.extend(map(vocab.__getitem__, map(prefix.__add__, toks)))
        occ_codes.append(np.frombuffer(codes, dtype=np.int64))
        n = lens[f] = np.array(n_toks, dtype=np.int64)
        occ_ids.append(np.repeat(ids, n))
        occ_dls.append(np.repeat(n, n))
        occ_pos.append(np.arange(n.sum()) - np.repeat(np.cumsum(n) - n, n))
    # code-point order of the terms = Spark's UTF-8 byte order: the
    # occurrences sort by (term rank, doc_id, pos), the shuffle's order.
    # They were emitted in (doc_id, pos) order within each field, and a
    # term belongs to one field, so a stable sort on the rank is enough.
    by_term = sorted(vocab.items())
    terms = np.array([t for t, _ in by_term], dtype=object)
    rank = np.empty(len(vocab), dtype=np.int64)
    rank[[c for _, c in by_term]] = np.arange(len(vocab))
    occ_rank = rank[np.concatenate(occ_codes)]
    order = np.argsort(occ_rank, kind="stable")
    oid, pos = np.concatenate(occ_ids)[order], np.concatenate(occ_pos)[order]
    blocks = codec.pack_batch(
        occ_rank[order], oid >> range_bits, oid, np.concatenate(occ_dls)[order],
        block_size, pos=pos if positions else None,
    )

    # the blocks come out term-sorted: a term's blocks are one run, so its
    # bucket is hashed once and its dictionary row is one reduceat
    branks = np.asarray(blocks["term"], dtype=np.int64)
    nb = len(branks)
    starts = np.flatnonzero(np.r_[True, branks[1:] != branks[:-1]]) if nb else np.empty(0, np.int64)
    uterms = terms[branks[starts]]
    blocks["term"] = terms[branks]
    buckets = np.fromiter(
        (term_bucket(t, N_TERM_BUCKETS) for t in uterms), np.int32, len(starts)
    )
    postings = pa.Table.from_pydict(
        {
            **{c: blocks[c] for c in _BLOCK_COLS},
            "bucket": np.repeat(buckets, np.diff(np.r_[starts, nb])),
        },
        schema=to_arrow_schema(BLOCKS_SCHEMA).append(pa.field("bucket", pa.int32())),
    )

    def per_term(ufunc, col: str) -> np.ndarray:
        v = np.asarray(blocks[col], dtype=np.int64)
        return ufunc.reduceat(v, starts) if nb else v

    dictionary = pa.table(
        {
            "term": pa.array(uterms, pa.string()),
            "df": per_term(np.add, "n_docs"),
            "cf": per_term(np.add, "tf_sum"),
            "max_tf": per_term(np.maximum, "max_tf"),
            "min_dl": per_term(np.minimum, "min_dl"),
            "bucket": buckets,
        }
    )
    dl = pa.array(
        lens[default_field].astype(np.int32),
        mask=docs[default_field].is_null().to_numpy(zero_copy_only=False),
    )
    docs = docs.select(["doc_id", "conv_id", "turn_idx", *fields]).append_column("dl", dl)

    total_tokens = int(lens[default_field].sum())
    avgdl = (total_tokens / n_docs) if n_docs else 0.0
    corpus_stats = pa.Table.from_pylist(
        [dict(zip(CORPUS_STATS_SCHEMA.names, (
            n_docs, avgdl, total_tokens, next_doc_id, positions, analyzer, range_bits,
        )))],
        schema=to_arrow_schema(CORPUS_STATS_SCHEMA),
    )
    field_stats = None
    if len(fields) > 1:
        rows = []
        for f in fields:
            dc, tt = int((lens[f] > 0).sum()), int(lens[f].sum())
            rows.append(dict(zip(FIELD_STATS_SCHEMA.names, (f, dc, (tt / dc) if dc else 0.0, tt))))
        field_stats = pa.Table.from_pylist(rows, schema=to_arrow_schema(FIELD_STATS_SCHEMA))
    return BuiltIndex(
        docs=docs,
        doc_stats=docs.select(["doc_id", "conv_id", "turn_idx", "dl"]),
        corpus_stats=corpus_stats,
        dictionary=dictionary,
        postings=postings,
        n_docs=n_docs,
        avgdl=avgdl,
        positions=positions,
        analyzer=analyzer,
        field_stats=field_stats,
        default_field=default_field,
        id_floor=id_floor,
        next_doc_id=next_doc_id,
    )
