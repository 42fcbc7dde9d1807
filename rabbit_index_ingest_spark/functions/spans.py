"""Phrase-aware highlight spans (round-5 verdict gap #3).

ES highlights the matched SPAN of a phrase/sloppy query; a term-set
highlighter (functions/text.highlight_expr) would wrap every stray "slow"
in a doc that matched "slow query" as a phrase. This module extracts the
matched windows as TOKEN-POSITION spans plus the matched snippet, using
the exact minimal-window model of the sloppy scorer kernel
(index/query._make_sloppy_range_scorer, ordered mode; run per doc range by
the Searcher._run_range_scorer chassis):

* each query slot j contributes adjusted positions ``pos − j``;
* for each event e (any slot's adjusted position, all slots present at or
  before it), ``L(e) = min_j last_j(e)``; minimal windows are the first
  event per distinct L; a window matches iff ``e − L ≤ slop``;
* the reported span is the TIGHT true-position interval of the window's
  chosen occurrences: ``[min_j (last_j + j), max_j (last_j + j)]``
  (``slop=0`` degenerates to ``[p, p+n−1]`` per exact phrase start).

Two implementations, span-identical (test-asserted):

* ``phrase_spans_expr`` — slop=0 only: a pure-JVM codegen expression
  (sequence + filter over the token array), the hot path;
* ``phrase_spans`` — any slop: Arrow-batched ``mapInPandas`` sweep over
  docs PRE-FILTERED (JVM-side) to those containing every phrase term —
  highlighting runs on matched docs, so the Python stage only ever sees
  the candidate set, never the corpus.

The DuckDB twin (h2 oracle entry) evaluates the same model relationally —
per-slot windowed max (RANGE frame), GROUP BY L → first event, spans from
the per-slot lasts — so engine and oracle agree row-for-row.
"""

from __future__ import annotations

from bisect import bisect_right
from collections.abc import Iterator
from functools import reduce

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..analysis import py_tokenize, tokens_expr

SPANS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("w_start", T.IntegerType(), False),
        T.StructField("w_end", T.IntegerType(), False),
        T.StructField("snippet", T.StringType(), False),
    ]
)


def minimal_windows(
    tokens: list[str], qterms: list[str], slop: int
) -> list[tuple[int, int]]:
    """Per-doc twin of the sloppy scorer's vectorized sweep (ordered
    model): true-position (w_start, w_end) per minimal window with
    distance ≤ slop, in event order."""
    slots: list[list[int]] = []
    pos_of: dict[str, list[int]] = {}
    for p, t in enumerate(tokens):
        pos_of.setdefault(t, []).append(p)
    for j, t in enumerate(qterms):
        ps = pos_of.get(t)
        if not ps:
            return []
        slots.append([p - j for p in ps])
    events = sorted({a for s in slots for a in s})
    seen_l: set[int] = set()
    out: list[tuple[int, int]] = []
    for e in events:
        lasts = []
        ok = True
        for s in slots:
            i = bisect_right(s, e) - 1
            if i < 0:
                ok = False
                break
            lasts.append(s[i])
        if not ok:
            continue
        lft = min(lasts)
        if lft in seen_l:
            continue  # minimal windows = FIRST event per distinct L
        seen_l.add(lft)
        if e - lft <= slop:
            true = [a + j for j, a in enumerate(lasts)]
            out.append((min(true), max(true)))
    return out


def _contains_all(text_col: str, qterms: list[str]) -> Column:
    toks = tokens_expr(text_col)
    return reduce(
        lambda a, b: a & b,
        [F.array_contains(toks, t) for t in sorted(set(qterms))],
    )


def phrase_spans(
    docs: DataFrame,
    phrase: str,
    slop: int = 0,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Matched-window spans of an (optionally sloppy) phrase over a docs
    frame: one row ``(doc_id, w_start, w_end, snippet)`` per minimal
    window (see module docstring). ``snippet`` is the window's analyzer
    tokens joined by spaces; char-level wrapping of the ORIGINAL text is
    ``functions.text.phrase_highlight_expr`` (exact phrases only)."""
    qterms = py_tokenize(phrase)
    if not qterms:
        raise ValueError(f"phrase analyzes to no tokens: {phrase!r}")
    if slop < 0:
        raise ValueError(f"slop must be >= 0, got {slop}")
    base = docs.select(
        F.col(id_col).cast("long").alias("doc_id"), F.col(text_col).alias("text")
    ).where(_contains_all("text", qterms))
    if slop == 0:
        return _spans_exact_expr(base, qterms)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for batch in batches:
            rows = []
            for doc_id, text in zip(batch["doc_id"], batch["text"]):
                toks = py_tokenize(text)
                for ws, we in minimal_windows(toks, qterms, slop):
                    rows.append(
                        (int(doc_id), ws, we, " ".join(toks[ws : we + 1]))
                    )
            if rows:
                yield pd.DataFrame(
                    rows, columns=["doc_id", "w_start", "w_end", "snippet"]
                )

    return base.mapInPandas(run, SPANS_SCHEMA)


def _spans_exact_expr(base: DataFrame, qterms: list[str]) -> DataFrame:
    """slop=0 fast path: every exact start position, pure codegen."""
    n = len(qterms)
    toks = F.col("_toks")
    starts = F.when(
        F.size(toks) >= n,
        F.filter(
            F.sequence(F.lit(0), F.size(toks) - n),
            lambda p: reduce(
                lambda a, b: a & b,
                [
                    F.element_at(F.col("_toks"), (p + j + 1).cast("int"))
                    == F.lit(qterms[j])
                    for j in range(n)
                ],
            ),
        ),
    ).otherwise(F.array().cast("array<bigint>"))
    return (
        base.select("doc_id", tokens_expr("text").alias("_toks"))
        .select("doc_id", "_toks", F.explode(starts).alias("_p"))
        .select(
            "doc_id",
            F.col("_p").cast("int").alias("w_start"),
            (F.col("_p") + n - 1).cast("int").alias("w_end"),
            F.array_join(
                F.slice(F.col("_toks"), (F.col("_p") + 1).cast("int"), n), " "
            ).alias("snippet"),
        )
    )
