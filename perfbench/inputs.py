"""Seeded inputs: the corpus, the query stream and the live upsert batches.

``datagen`` pins its seed (``datagen.SEED``), so the benchmark draws its own
inputs from ``--seed`` while reusing the package's vocabulary and Zipf
shape: token rank r is drawn with weight r**-ZIPF_S over ``datagen.VOCAB``.
Every function here is a pure function of its arguments.
"""

from __future__ import annotations

from dataclasses import dataclass
from datetime import datetime, timedelta, timezone

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from rabbit_index_ingest_spark.datagen import SENTINELS, VOCAB, VOCAB_SIZE, ZIPF_S

# Base corpus sizes, in conversations (see README, "Corpus size"): ~21k turns
# for search, so a query's terms span ~270 posting blocks and the scorer's
# task time outweighs the per-query driver gap; ~3.5k turns for live ingest,
# whose batches, loads and merges are fixed-cost bound at any size that fits
# the run budget.
SEARCH_CONV = 3000
LIVE_CONV = 500
HOT_RANKS = 50  # long-list terms come from the hottest ranks
HOT_BIGRAMS = [(0, 1), (1, 0)]  # vocabulary ranks of the hot-bigram phrases
BATCH_NEW = 60  # new turns per live micro-batch
BATCH_REINGEST = 20  # re-ingested keys (changed text) per live micro-batch
BASE_TS = datetime(2026, 1, 1, tzinfo=timezone.utc)

# the on-disk schema read_transcript_stream expects (datagen.TRANSCRIPT_SCHEMA)
ARROW_SCHEMA = pa.schema(
    [
        ("conv_id", pa.string()),
        ("turn_idx", pa.int32()),
        ("role", pa.string()),
        ("text", pa.string()),
        ("tool", pa.string()),
        ("ts", pa.timestamp("us", tz="UTC")),
    ]
)

_W = np.arange(1, VOCAB_SIZE + 1, dtype=np.float64) ** -ZIPF_S
_CDF = np.cumsum(_W / _W.sum())
_VOCAB = np.array(VOCAB, dtype=object)


def _texts(rng: np.random.Generator, n: int) -> list[str]:
    lens = rng.integers(5, 121, n)
    toks = np.searchsorted(_CDF, rng.random(int(lens.sum())))
    offs = np.concatenate(([0], np.cumsum(lens)))
    return [" ".join(_VOCAB[toks[offs[i]:offs[i + 1]]]) for i in range(n)]


def _frame(conv_ids, turn_idx, texts, ts0: int) -> pd.DataFrame:
    n = len(texts)
    return pd.DataFrame(
        {
            "conv_id": conv_ids,
            "turn_idx": np.asarray(turn_idx, dtype=np.int32),
            "role": ["user" if t % 2 == 0 else "assistant" for t in turn_idx],
            "text": texts,
            "tool": [None] * n,
            "ts": [BASE_TS + timedelta(seconds=ts0 + i) for i in range(n)],
        }
    )


def corpus(seed: int, n_conv: int) -> pd.DataFrame:
    """The base transcript table: n_conv conversations of 2-12 turns,
    key-ordered, with the sentinel phrases planted in about 1 turn in 200."""
    rng = np.random.default_rng([seed, 0])
    turns = rng.integers(2, 13, n_conv)
    conv_ids = np.repeat([f"c{seed}-{i:05d}" for i in range(n_conv)], turns)
    turn_idx = np.concatenate([np.arange(t) for t in turns])
    texts = _texts(rng, len(conv_ids))
    for i in np.flatnonzero(rng.random(len(texts)) < 0.005):
        texts[i] += " " + SENTINELS[i % len(SENTINELS)]
    return _frame(list(conv_ids), turn_idx, texts, 0)


def write_parquet(df: pd.DataFrame, path: str) -> None:
    pq.write_table(pa.Table.from_pandas(df, schema=ARROW_SCHEMA, preserve_index=False), path)


@dataclass(frozen=True)
class Query:
    kind: str  # "or" (topk_blockmax), "and" (topk_blockmax_and), "phrase" (topk_phrase)
    text: str
    k: int


# Kinds follow a fixed cycle. Each kind has a fixed k and draws one term
# from each of its vocabulary-rank bands, so a cycle reads about as many
# postings whatever the seed (a run of one cycle and a run of three measure
# the same mix); seeds vary only which terms.
KIND_CYCLE = [
    ("or", 100, [(0, 5), (5, 15), (15, 30), (30, HOT_RANKS)]),
    ("and", 10, [(0, 5), (5, 20)]),  # conjunctions stay within ranks whose docs overlap
    ("phrase", 10, None),  # one of HOT_BIGRAMS
]


def longlist_queries(seed: int, n: int) -> list[Query]:
    """4-term disjunctions, 2-term conjunctions and hot-bigram phrases over
    the hottest ranks, in KIND_CYCLE order."""
    rng = np.random.default_rng([seed, 1])
    out = []
    for i in range(n):
        kind, k, bands = KIND_CYCLE[i % len(KIND_CYCLE)]
        if bands:
            idx = [int(rng.integers(lo, hi)) for lo, hi in bands]
        else:
            idx = HOT_BIGRAMS[int(rng.integers(len(HOT_BIGRAMS)))]
        out.append(Query(kind, " ".join(VOCAB[r] for r in idx), k))
    return out


def marker(seed: int, batch: int, i: int) -> str:
    """A token that occurs only in one version of one live-batch turn."""
    return f"fresh{seed}x{batch}x{i}"


def live_batch(
    seed: int, batch: int, live_keys: list[tuple[str, int]]
) -> tuple[pd.DataFrame, list[tuple[str, int]]]:
    """One micro-batch: BATCH_NEW turns of new conversations plus
    BATCH_REINGEST existing keys drawn from ``live_keys`` with changed
    text. Every text carries its own ``marker``. Returns the batch and
    the re-ingested keys."""
    rng = np.random.default_rng([seed, 2, batch])
    pick = rng.choice(len(live_keys), BATCH_REINGEST, replace=False)
    re_keys = [live_keys[i] for i in sorted(pick)]
    n_new_conv = BATCH_NEW // 4
    new_keys = [(f"n{seed}-{batch}-{c}", t) for c in range(n_new_conv) for t in range(4)]
    keys = new_keys + re_keys
    texts = [f"{marker(seed, batch, i)} {t}" for i, t in enumerate(_texts(rng, len(keys)))]
    df = _frame([k[0] for k in keys], [k[1] for k in keys], texts, 10_000_000 + batch * 1000)
    return df, re_keys
