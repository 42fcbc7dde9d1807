"""Search-layer features beyond top-k: terms-aggregation facets and
hit highlighting (the ES aggs / highlight analogues)."""

from __future__ import annotations

import re
from collections import Counter

import pytest
from pyspark.sql import functions as F

from rabbit_index_ingest_spark.analysis import py_tokenize
from rabbit_index_ingest_spark.datagen import transcripts_pandas
from rabbit_index_ingest_spark.functions.text import highlight_expr
from rabbit_index_ingest_spark.index.build import build_index
from rabbit_index_ingest_spark.index.query import Searcher


def test_facet_counts_matches_pandas_oracle(spark):
    pdf = transcripts_pandas(n_conv=30)[["conv_id", "turn_idx", "text"]]
    pdf = pdf.sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    df = spark.createDataFrame(pdf)
    built = build_index(spark, df)
    s = Searcher(spark, built.postings, built.dictionary, built.n_docs, built.avgdl)

    query = "zephyr quantum"
    qt = set(py_tokenize(query))
    matched = [
        i for i, t in enumerate(pdf["text"]) if qt & set(py_tokenize(t))
    ]
    want = Counter(str(pdf["turn_idx"][i]) for i in matched)
    top = sorted(want.items(), key=lambda kv: (-kv[1], kv[0]))[:5]

    attrs = built.doc_stats.select("doc_id", "turn_idx")
    got_rows = s.facet_counts(query, attrs, ["turn_idx"], top_values=5).collect()
    got = [(r["value"], r["doc_count"]) for r in got_rows]
    assert all(r["facet"] == "turn_idx" for r in got_rows)
    assert sorted(got, key=lambda kv: (-kv[1], kv[0])) == top
    built.release()


def test_facet_counts_empty_query(spark):
    pdf = transcripts_pandas(n_conv=5)[["conv_id", "turn_idx", "text"]]
    df = spark.createDataFrame(pdf)
    built = build_index(spark, df)
    s = Searcher(spark, built.postings, built.dictionary, built.n_docs, built.avgdl)
    attrs = built.doc_stats.select("doc_id", "turn_idx")
    assert s.facet_counts("", attrs, ["turn_idx"]).count() == 0
    assert s.facet_counts("qzx_absent_term", attrs, ["turn_idx"]).count() == 0
    built.release()


@pytest.mark.parametrize(
    "text,terms,width,want",
    [
        # centred window, match wrapped
        ("a b c hit d e f", ["hit"], 2, "b c <em>hit</em> d e"),
        # clamp at document start: the 2w+1 window slides right
        ("hit a b c d e f g", ["hit"], 3, "<em>hit</em> a b c d e f"),
        # clamp at document end
        ("a b c d e hit", ["hit"], 2, "d e <em>hit</em>"),
        # first of several matches anchors; all in-window matches wrapped
        ("x hit y hit z", ["hit"], 1, "x <em>hit</em> y"),
        # multiple query terms: earliest position wins, both wrapped
        ("a foo b bar c", ["bar", "foo"], 2, "a <em>foo</em> b <em>bar</em> c"),
        # analyzer-space: punctuation dropped, case folded
        ("The HIT, and more!", ["hit"], 1, "the <em>hit</em> and"),
        # no match -> NULL
        ("nothing here", ["hit"], 2, None),
    ],
)
def test_highlight_golden(spark, text, terms, width, want):
    df = spark.createDataFrame([(text,)], "text string")
    got = df.select(highlight_expr("text", terms, width).alias("s")).collect()[0]["s"]
    assert got == want


def test_highlight_is_codegen_only(spark):
    """No Python stage: the expression must survive explain without
    BatchEvalPython/ArrowEvalPython (stays whole-stage-codegen-able)."""
    df = spark.range(3).select(F.concat(F.lit("x hit y "), "id").alias("text"))
    plan = (
        df.select(highlight_expr("text", ["hit"], 2).alias("s"))
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "EvalPython" not in plan


def test_facet_counts_masks_tombstones(spark):
    pdf = transcripts_pandas(n_conv=12)[["conv_id", "turn_idx", "text"]]
    pdf = pdf.sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    built = build_index(spark, spark.createDataFrame(pdf))
    attrs = built.doc_stats.select("doc_id", "turn_idx")
    query = "zephyr quantum"
    s_all = Searcher(spark, built.postings, built.dictionary, built.n_docs, built.avgdl)
    base = {
        (r["value"]): r["doc_count"]
        for r in s_all.facet_counts(query, attrs, ["turn_idx"], 100).collect()
    }
    # tombstone one matching doc (the first turn-0 match) via the
    # distributed table path and expect exactly that bucket to shrink
    qt = set(py_tokenize(query))
    victim = next(
        i for i, t in enumerate(pdf["text"])
        if qt & set(py_tokenize(t)) and pdf["turn_idx"][i] == 0
    )
    s_del = Searcher(
        spark, built.postings, built.dictionary, built.n_docs, built.avgdl,
        deleted_df=spark.createDataFrame([(victim,)], "doc_id long"),
    )
    got = {
        (r["value"]): r["doc_count"]
        for r in s_del.facet_counts(query, attrs, ["turn_idx"], 100).collect()
    }
    want = dict(base)
    want["0"] -= 1
    if want["0"] == 0:
        del want["0"]
    assert got == want
    built.release()


def test_facet_counts_hostile_column_names(spark):
    """A facet column whose name contains backticks/quotes must neither
    break the plan parse nor inject SQL (the unpivot is built from typed
    expressions, not a string stack()); unknown names fail fast."""
    pdf = transcripts_pandas(n_conv=10)[["conv_id", "turn_idx", "text"]]
    pdf = pdf.sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    df = spark.createDataFrame(pdf)
    built = build_index(spark, df)
    s = Searcher(
        spark, built.postings, built.dictionary, built.n_docs, built.avgdl
    )
    evil = "turn`idx', x"
    attrs = built.doc_stats.select(
        "doc_id", F.col("turn_idx").alias(evil)
    )
    rows = s.facet_counts("zephyr", attrs, [evil], top_values=3).collect()
    assert rows and all(r["facet"] == evil for r in rows)
    with pytest.raises(ValueError, match="not in attrs"):
        s.facet_counts("zephyr", attrs, ["nope"], top_values=3)
    built.release()


# ---------------- prefix queries (ES prefix / Lucene multi-term) ------------


@pytest.fixture(scope="module")
def pcorpus(spark):
    pdf = transcripts_pandas(n_conv=30)[["conv_id", "turn_idx", "text"]]
    pdf = pdf.sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    built = build_index(spark, spark.createDataFrame(pdf))
    s = Searcher(
        spark, built.postings, built.dictionary, built.n_docs, built.avgdl,
        doc_stats=built.doc_stats,
    )
    yield pdf, built, s
    built.release()


def test_expand_prefix_matches_vocabulary(spark, pcorpus):
    pdf, _, s = pcorpus
    vocab = {t for txt in pdf["text"] for t in py_tokenize(txt)}
    for p in ["qu", "z", "xyzzynope"]:
        want = sorted(t for t in vocab if t.startswith(p))
        assert s.expand_prefix(p) == want
    with pytest.raises(ValueError, match="exactly one token"):
        s.expand_prefix("two words")
    with pytest.raises(ValueError, match="too_many_clauses"):
        s.expand_prefix("q", max_expansions=0)


def test_prefix_scoring_boolean_equals_expanded_disjunction(spark, pcorpus):
    _, _, s = pcorpus
    terms = s.expand_prefix("qu")
    assert terms, "fixture needs qu* terms"
    want = [
        (r["doc_id"], round(r["score"], 9))
        for r in s.topk_dataframe(" ".join(terms), 10).collect()
    ]
    got = [
        (r["doc_id"], round(r["score"], 9))
        for r in s.topk_prefix("qu", 10, rewrite="scoring_boolean").collect()
    ]
    assert got == want and got


def test_prefix_constant_score_matches_python(spark, pcorpus):
    pdf, _, s = pcorpus
    want = sorted(
        i
        for i, txt in enumerate(pdf["text"])
        if any(t.startswith("qu") for t in py_tokenize(txt))
    )
    rows = s.topk_prefix("qu", 10_000_000, rewrite="constant_score").collect()
    assert [r["doc_id"] for r in rows] == want
    assert all(r["score"] == 1.0 for r in rows)
    # an unmatched prefix is empty, an unknown rewrite is an error
    assert s.topk_prefix("xyzzynope", 10).count() == 0
    with pytest.raises(ValueError, match="unknown rewrite"):
        s.topk_prefix("qu", 10, rewrite="bogus")


def test_prefix_constant_score_masks_tombstones_and_filter(spark, pcorpus):
    pdf, built, _ = pcorpus
    all_match = [
        i
        for i, txt in enumerate(pdf["text"])
        if any(t.startswith("qu") for t in py_tokenize(txt))
    ]
    assert len(all_match) >= 3, "fixture needs several qu* docs"
    dead = all_match[0]
    s = Searcher(
        spark, built.postings, built.dictionary, built.n_docs, built.avgdl,
        deleted_df=spark.createDataFrame([(dead,)], "doc_id long"),
    )
    allowed = spark.createDataFrame(
        [(i,) for i in all_match[:3]], "doc_id long"
    )
    rows = s.topk_prefix(
        "qu", 10_000_000, rewrite="constant_score", allowed=allowed
    ).collect()
    assert [r["doc_id"] for r in rows] == sorted(set(all_match[1:3]))


# ---------------- fuzzy / wildcard (multi-term expansion family) ------------


def _lev(a: str, b: str) -> int:
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(
                min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb))
            )
        prev = cur
    return prev[-1]


def test_expand_fuzzy_matches_python(spark, pcorpus):
    pdf, _, s = pcorpus
    vocab = sorted({t for txt in pdf["text"] for t in py_tokenize(txt)})
    for term, f in [("zephyr", 1), ("quantum", 2), ("karo", 1)]:
        want = sorted(
            ((_lev(t, term), t) for t in vocab if _lev(t, term) <= f)
        )
        assert s.expand_fuzzy(term, fuzziness=f) == [t for _, t in want]
    # ES AUTO band: len<=2 -> 0, 3-5 -> 1, else 2
    assert s.expand_fuzzy("zephyr") == s.expand_fuzzy("zephyr", fuzziness=2)
    assert s.expand_fuzzy("karo") == s.expand_fuzzy("karo", fuzziness=1)
    # prefix_length pins the leading chars exactly
    got = s.expand_fuzzy("quantum", fuzziness=2, prefix_length=2)
    assert all(t.startswith("qu") for t in got) and "quantum" in got


def test_fuzzy_scoring_boolean_equals_expanded_disjunction(spark, pcorpus):
    _, _, s = pcorpus
    terms = s.expand_fuzzy("quantum", fuzziness=2)
    assert len(terms) >= 1
    want = [
        (r["doc_id"], round(r["score"], 9))
        for r in s.topk_dataframe(" ".join(terms), 10).collect()
    ]
    got = [
        (r["doc_id"], round(r["score"], 9))
        for r in s.topk_fuzzy(
            "quantum", 10, fuzziness=2, rewrite="scoring_boolean"
        ).collect()
    ]
    assert got == want and got


def test_fuzzy_constant_score_matches_python(spark, pcorpus):
    pdf, _, s = pcorpus
    exps = set(s.expand_fuzzy("zephyr", fuzziness=1))
    want = sorted(
        i
        for i, txt in enumerate(pdf["text"])
        if exps & set(py_tokenize(txt))
    )
    rows = s.topk_fuzzy(
        "zephyr", 10_000_000, fuzziness=1, rewrite="constant_score"
    ).collect()
    assert [r["doc_id"] for r in rows] == want
    assert all(r["score"] == 1.0 for r in rows)


def test_expand_wildcard_matches_python(spark, pcorpus):
    pdf, _, s = pcorpus
    vocab = sorted({t for txt in pdf["text"] for t in py_tokenize(txt)})
    import re

    for pat in ["qu*", "*o", "k?ro", "z*r"]:
        rx = re.compile(
            "^" + re.escape(pat).replace(r"\*", ".*").replace(r"\?", ".") + "$"
        )
        want = sorted(t for t in vocab if rx.match(t))
        assert s.expand_wildcard(pat) == want, pat
    with pytest.raises(ValueError, match="one token"):
        s.expand_wildcard("a b")
    with pytest.raises(ValueError, match="too_many_clauses"):
        s.expand_wildcard("*", max_expansions=1)


def test_wildcard_rewrites(spark, pcorpus):
    pdf, _, s = pcorpus
    terms = s.expand_wildcard("qu*")
    assert terms
    want = [
        (r["doc_id"], round(r["score"], 9))
        for r in s.topk_dataframe(" ".join(terms), 10).collect()
    ]
    got = [
        (r["doc_id"], round(r["score"], 9))
        for r in s.topk_wildcard("qu*", 10, rewrite="scoring_boolean").collect()
    ]
    assert got == want
    eset = set(terms)
    want_c = sorted(
        i
        for i, txt in enumerate(pdf["text"])
        if eset & set(py_tokenize(txt))
    )
    rows = s.topk_wildcard("qu*", 10_000_000).collect()
    assert [r["doc_id"] for r in rows] == want_c


# ---------------- metric/bucket aggregations (ES aggs family) ---------------


def test_histogram_and_stats_match_pandas(spark, pcorpus):
    pdf, built, s = pcorpus
    q = "zephyr quantum"
    qt = set(py_tokenize(q))
    matched = [
        i for i, t in enumerate(pdf["text"]) if qt & set(py_tokenize(t))
    ]
    assert matched
    # numeric attribute with a null to prove ES null exclusion
    vals = {i: (None if j == 0 else len(pdf["text"][i])) for j, i in enumerate(matched)}
    attrs = spark.createDataFrame(
        [(i, vals.get(i)) for i in range(len(pdf))], "doc_id long, n long"
    )
    live = [i for i in matched if vals.get(i) is not None]
    want_hist = Counter((len(pdf["text"][i]) // 20) * 20 for i in live)
    got = s.histogram_agg(q, attrs, "n", 20).collect()
    assert {(r["bucket"], r["doc_count"]) for r in got} == {
        (float(b), c) for b, c in want_hist.items()
    }
    st = s.stats_agg(q, attrs, "n").collect()[0]
    lens = [len(pdf["text"][i]) for i in live]
    assert st["count"] == len(lens)
    assert st["min"] == min(lens) and st["max"] == max(lens)
    assert st["sum"] == sum(lens)
    assert st["avg"] == pytest.approx(sum(lens) / len(lens), rel=1e-12)
    with pytest.raises(ValueError, match="interval"):
        s.histogram_agg(q, attrs, "n", 0)
    with pytest.raises(ValueError, match="not in attrs"):
        s.stats_agg(q, attrs, "nope")


def test_cardinality_exact_and_approx(spark, pcorpus):
    pdf, built, s = pcorpus
    q = "zephyr quantum"
    qt = set(py_tokenize(q))
    matched = [
        i for i, t in enumerate(pdf["text"]) if qt & set(py_tokenize(t))
    ]
    attrs = spark.createDataFrame(
        [(i, f"g{i % 7}") for i in range(len(pdf))], "doc_id long, grp string"
    )
    want = len({f"g{i % 7}" for i in matched})
    exact = s.cardinality_agg(q, attrs, "grp", exact=True).collect()[0]["value"]
    assert exact == want
    # the HLL default must land within the configured rsd at this tiny n
    approx = s.cardinality_agg(q, attrs, "grp", rsd=0.01).collect()[0]["value"]
    assert abs(approx - want) <= max(1, int(0.05 * want))


def test_range_agg_matches_pandas(spark, pcorpus):
    """ES range-agg semantics: from inclusive / to exclusive, overlapping
    ranges count independently, empty and no-match buckets still return
    with doc_count 0, nulls excluded."""
    pdf, built, s = pcorpus
    q = "zephyr quantum"
    qt = set(py_tokenize(q))
    matched = [
        i for i, t in enumerate(pdf["text"]) if qt & set(py_tokenize(t))
    ]
    attrs = spark.createDataFrame(
        [(i, None if i == matched[0] else len(pdf["text"][i]))
         for i in range(len(pdf))],
        "doc_id long, n long",
    )
    live = {i: len(pdf["text"][i]) for i in matched[1:]}
    ranges = [
        {"to": 150},
        {"from": 100, "to": 300},  # overlaps the first
        {"from": 10**6},           # empty
        {"from": 50, "key": "tail"},
    ]
    got = {
        r["key"]: (r["from"], r["to"], r["doc_count"])
        for r in s.range_agg(q, attrs, "n", ranges).collect()
    }
    def cnt(lo, hi):
        return sum(
            1 for v in live.values()
            if (lo is None or v >= lo) and (hi is None or v < hi)
        )
    assert got == {
        "*-150.0": (None, 150.0, cnt(None, 150)),
        "100.0-300.0": (100.0, 300.0, cnt(100, 300)),
        "1000000.0-*": (1e6, None, 0),
        "tail": (50.0, None, cnt(50, None)),
    }
    with pytest.raises(ValueError, match="from and/or to"):
        s.range_agg(q, attrs, "n", [{}])
    with pytest.raises(ValueError, match="non-empty"):
        s.range_agg(q, attrs, "n", [])
    # no query term exists: every bucket returns, all zero
    z = s.range_agg("xyzzynope", attrs, "n", ranges).collect()
    assert len(z) == 4 and all(r["doc_count"] == 0 for r in z)


def test_wildcard_unicode_pattern_normalization(spark):
    """Pattern normalization must match the analyzer's (round-4 verdict
    nit): the vocabulary is lowered by the JVM (F.lower) while patterns
    lower in Python — prove the two casings agree on the unicode shapes
    that could diverge (full-width forms, accents, uppercase input), so
    a full-width or composed pattern literal can't silently match
    nothing."""
    import pandas as pd

    from rabbit_index_ingest_spark.index.build import build_index
    from rabbit_index_ingest_spark.index.query import Searcher

    texts = [
        "CAFÉ Ｗｉｄｅ ＤＡＴＡ５ straße",   # full-width + accented + ß
        "cafe wide normal pad",
    ]
    pdf = pd.DataFrame(
        {
            "conv_id": [f"{i:04d}" for i in range(len(texts))],
            "turn_idx": [0] * len(texts),
            "text": texts,
        }
    )
    built = build_index(spark, spark.createDataFrame(pdf))
    s = Searcher(
        spark, built.postings, built.dictionary, built.n_docs, built.avgdl
    )
    vocab = sorted({t for txt in texts for t in py_tokenize(txt)})
    # uppercase/odd-case pattern input: lowered like the analyzer
    assert s.expand_wildcard("CAF*") == [t for t in vocab if t.startswith("caf")]
    assert s.expand_wildcard("café") == ["café"]
    # full-width pattern matches the full-width vocab term (JVM lower and
    # Python lower agree on full-width Latin: Ｗ → ｗ)
    assert s.expand_wildcard("Ｗｉｄｅ") == ["ｗｉｄｅ"]
    assert s.expand_wildcard("ＤＡＴＡ?") == ["ｄａｔａ５"]
    # ß: neither lower() maps it to ss — consistently itself
    assert s.expand_wildcard("stra*") == ["straße"]
    built.release()


# ---------------- regexp query (ES regexp / Lucene RegexpQuery) ----------------


def test_expand_regexp_matches_python(spark, pcorpus):
    pdf, _, s = pcorpus
    import re

    vocab = sorted({t for txt in pdf["text"] for t in py_tokenize(txt)})
    for pat in ["k.ro", "z.*", "quantum|karo", "qu[a-z]+", "t.{2,4}", "ka?ro"]:
        want = sorted(t for t in vocab if re.fullmatch(pat, t))
        assert s.expand_regexp(pat) == want, pat
    # Lucene treats ^ and $ as LITERALS (anchoring is implicit): a pattern
    # containing them matches nothing in an alnum vocabulary, not everything
    assert s.expand_regexp("^karo$") == []
    # uppercase input is lowered into analyzer space
    assert s.expand_regexp("KARO") == ["karo"]
    # Lucene optional operators are rejected unescaped, accepted escaped
    for bad in ["a~b", "a&b", "a<b", "term@", '#x', 'a"b']:
        with pytest.raises(ValueError, match="optional operator"):
            s.expand_regexp(bad)
    assert s.expand_regexp(r"a\&b") == []  # literal & — valid, matches nothing
    # perl classes do NOT exist in Lucene: \d is a literal 'd'
    assert s.expand_regexp(r"\d") == []
    with pytest.raises(ValueError, match="too_many_clauses"):
        s.expand_regexp(".*", max_expansions=1)
    with pytest.raises(ValueError, match="one token"):
        s.expand_regexp("a b")
    with pytest.raises(ValueError, match="invalid regexp"):
        s.expand_regexp("a{2,1}")


def test_topk_regexp_rewrites(spark, pcorpus):
    pdf, _, s = pcorpus
    terms = s.expand_regexp("qu.*")
    assert terms
    want = [
        (r["doc_id"], round(r["score"], 9))
        for r in s.topk_dataframe(" ".join(terms), 10).collect()
    ]
    got = [
        (r["doc_id"], round(r["score"], 9))
        for r in s.topk_regexp("qu.*", 10, rewrite="scoring_boolean").collect()
    ]
    assert got == want
    eset = set(terms)
    want_c = sorted(
        i for i, txt in enumerate(pdf["text"]) if eset & set(py_tokenize(txt))
    )
    rows = s.topk_regexp("qu.*", 10_000_000).collect()
    assert [r["doc_id"] for r in rows] == want_c
    assert all(r["score"] == 1.0 for r in rows)


# ---------------- minimum_should_match spec forms ----------------


def test_parse_min_should_match_es_examples():
    from rabbit_index_ingest_spark.index.query import parse_min_should_match

    # the ES minimum-should-match documentation table
    assert parse_min_should_match("3", 5) == 3
    assert parse_min_should_match(3, 5) == 3
    assert parse_min_should_match("-2", 5) == 3
    assert parse_min_should_match(-2, 5) == 3
    assert parse_min_should_match("75%", 10) == 7    # trunc(7.5)
    assert parse_min_should_match("-25%", 10) == 8   # 10 + trunc(-2.5)
    assert parse_min_should_match("75%", 5) == 3     # trunc(3.75)
    # conditional: n <= bound -> ALL required
    assert parse_min_should_match("3<90%", 3) == 3
    assert parse_min_should_match("3<90%", 2) == 2
    assert parse_min_should_match("3<90%", 11) == 9  # trunc(9.9)
    # multiple conditionals, left to right
    spec = "2<-25% 9<-3"
    assert parse_min_should_match(spec, 2) == 2      # all
    assert parse_min_should_match(spec, 5) == 4      # 5 + trunc(-1.25)
    assert parse_min_should_match(spec, 11) == 8     # 11 - 3
    # <=0 resolves to 1 (retrieval-identical to "no minimum")
    assert parse_min_should_match("-5", 3) == 1
    assert parse_min_should_match("25%", 2) == 1     # trunc(0.5) = 0 -> 1
    # over-demanding spec passes through (query then matches nothing)
    assert parse_min_should_match("7", 3) == 7
    with pytest.raises(ValueError, match="spec"):
        parse_min_should_match("3<", 5)


def test_msm_spec_forms_end_to_end(spark, pcorpus):
    pdf, _, s = pcorpus
    q = "zephyr quantum lattice karo"  # 4 distinct terms
    want = [
        (r["doc_id"], round(r["score"], 9))
        for r in s.topk_msm(q, 10, msm=3).collect()
    ]
    for spec in ("75%", "-25%", "-1", "2<75%"):
        got = [
            (r["doc_id"], round(r["score"], 9))
            for r in s.topk_msm(q, 10, msm=spec).collect()
        ]
        assert got == want, spec
    # DataFrame twin accepts the same forms
    got_df = [
        (r["doc_id"], round(r["score"], 9))
        for r in s.topk_msm_dataframe(q, 10, msm="75%").collect()
    ]
    assert got_df == want


def test_constant_score_early_termination(spark, pcorpus):
    """The constant_score rewrite must stop decoding once k allowed
    distinct docs are found (round-4 verdict item 3): results identical
    to the decode-everything reference, with blocks provably skipped on
    a hot expansion with small k."""
    from rabbit_index_ingest_spark.index.query import flat_postings

    pdf, built, s = pcorpus
    # hottest possible expansion: the entire vocabulary
    terms = s.expand_wildcard("*", max_expansions=1_000_000)
    # reference: every live doc containing any expansion, doc_id asc
    blocks = s.postings.where(F.col("term").isin(terms))
    want_all = sorted(
        r["doc_id"]
        for r in flat_postings(blocks).select("doc_id").distinct().collect()
    )
    for k in (3, 10):
        acc = spark.sparkContext.accumulator(0)
        got = s._topk_expanded(terms, k, "constant_score", None, skip_acc=acc)
        rows = got.collect()
        assert [r["doc_id"] for r in rows] == want_all[:k]
        assert all(r["score"] == 1.0 for r in rows)
        assert acc.value > 0, "no blocks skipped on a hot expansion"
    # allow-list composes: only allowed docs, still doc_id asc
    allow_ids = want_all[1::2][:5]
    allowed = spark.createDataFrame([(int(d),) for d in allow_ids], "doc_id long")
    got = s._topk_expanded(terms, 3, "constant_score", allowed).collect()
    assert [r["doc_id"] for r in got] == sorted(allow_ids)[:3]


# ---------------- query-time boost (ES clause boost) ----------------


def test_boost_parity_and_semantics(spark, pcorpus):
    pdf, _, s = pcorpus
    q = "zephyr quantum"
    boosts = {"zephyr": 2.0, "quantum": 0.5}
    big = 10_000_000
    fast = [
        (r["doc_id"], round(r["score"], 9))
        for r in s.topk_blockmax(q, big, boosts=boosts).collect()
    ]
    twin = [
        (r["doc_id"], round(r["score"], 9))
        for r in s.topk_dataframe(q, big, boosts=boosts).collect()
    ]
    assert fast == twin and fast
    # boost factors fold multiplicatively per clause: recompute from the
    # unboosted per-term scores via single-term queries
    zep = {r["doc_id"]: r["score"] for r in s.topk_dataframe("zephyr", big).collect()}
    qua = {r["doc_id"]: r["score"] for r in s.topk_dataframe("quantum", big).collect()}
    for d, sc in fast:
        want = 2.0 * zep.get(d, 0.0) + 0.5 * qua.get(d, 0.0)
        assert sc == pytest.approx(want, rel=1e-9), d
    # all-ones boost is the identity
    base = [(r["doc_id"], r["score"]) for r in s.topk_blockmax(q, big).collect()]
    one = [
        (r["doc_id"], r["score"])
        for r in s.topk_blockmax(q, big, boosts={"zephyr": 1.0}).collect()
    ]
    assert one == base
    with pytest.raises(ValueError, match="boosts"):
        s.topk_blockmax(q, 10, boosts={"zephyr": -1.0}).collect()


def test_page_from_size(spark, pcorpus):
    """from/size pagination: pages tile the global ranking exactly and
    compose with filters."""
    _, _, s = pcorpus
    q = "zephyr quantum karo"
    full = [
        (r["doc_id"], r["score"])
        for r in s.topk_blockmax(q, 10_000_000).collect()
    ]
    assert len(full) > 7
    pages = []
    step = 3
    for frm in range(0, len(full) + step, step):
        pages.extend(
            (r["doc_id"], r["score"])
            for r in s.page(q, from_=frm, size=step).collect()
        )
        if frm >= len(full):
            break
    assert pages == full
    with pytest.raises(ValueError, match="from_"):
        s.page(q, from_=-1).collect()


def test_sort_by_field(spark, pcorpus):
    pdf, built, s = pcorpus
    q = "zephyr quantum"
    qt = set(py_tokenize(q))
    matched = [
        i for i, t in enumerate(pdf["text"]) if qt & set(py_tokenize(t))
    ]
    assert matched
    # attribute with one null to prove nulls-last
    vals = {i: (None if j == 0 else len(pdf["text"][i]))
            for j, i in enumerate(matched)}
    attrs = spark.createDataFrame(
        [(i, vals.get(i)) for i in range(len(pdf))], "doc_id long, n long"
    )
    want = sorted(
        matched,
        key=lambda i: (vals[i] is None, vals[i] if vals[i] is not None else 0, i),
    )
    got = [r["doc_id"] for r in s.sort_by(q, attrs, "n", k=100).collect()]
    assert got == want
    got_desc = [
        r["doc_id"]
        for r in s.sort_by(q, attrs, "n", k=100, ascending=False).collect()
    ]
    want_desc = sorted(
        matched,
        key=lambda i: (
            vals[i] is None,
            -(vals[i] if vals[i] is not None else 0),
            i,
        ),
    )
    assert got_desc == want_desc
    # absent term: empty with contract schema
    empty = s.sort_by("qzx_absent", attrs, "n", k=5)
    assert empty.count() == 0 and empty.columns == ["doc_id", "n"]


# ---------------- dis_max (Lucene DisjunctionMaxQuery) ----------------


def test_dismax_parity_and_semantics(spark, pcorpus):
    pdf, _, s = pcorpus
    q = "zephyr quantum karo"
    big = 10_000_000
    per_term = [
        {r["doc_id"]: r["score"] for r in s.topk_dataframe(t, big).collect()}
        for t in sorted(set(py_tokenize(q)))
    ]
    for tb in (0.0, 0.3, 1.0):
        fast = [
            (r["doc_id"], round(r["score"], 9))
            for r in s.topk_dismax(q, big, tie_breaker=tb).collect()
        ]
        twin = [
            (r["doc_id"], round(r["score"], 9))
            for r in s.topk_dismax_dataframe(q, big, tie_breaker=tb).collect()
        ]
        assert fast == twin and fast, tb
        # recompose from single-term scores: max + tb*(sum - max)
        for d, sc in fast:
            cs = [m.get(d, 0.0) for m in per_term]
            want = max(cs) + tb * (sum(cs) - max(cs))
            assert sc == pytest.approx(want, rel=1e-9), (d, tb)
    # tb=1.0 degenerates to the plain BM25 sum (rank AND score)
    plain = [
        (r["doc_id"], round(r["score"], 9))
        for r in s.topk_blockmax(q, big).collect()
    ]
    one = [
        (r["doc_id"], round(r["score"], 9))
        for r in s.topk_dismax(q, big, tie_breaker=1.0).collect()
    ]
    assert one == plain
    with pytest.raises(ValueError, match="tie_breaker"):
        s.topk_dismax(q, 10, tie_breaker=1.5).collect()


def test_dismax_prunes_blocks(spark):
    """θ over dis_max partials still prunes: skewed corpus, rare+hot
    query, results exact vs the twin with blocks skipped."""
    import pandas as pd

    from rabbit_index_ingest_spark.index.build import build_index

    pad = " ".join(f"p{j}" for j in range(20))
    texts = []
    for i in range(3000):
        if i < 15:
            texts.append(("hot " * 9).strip())
        elif 200 <= i < 210:
            texts.append(f"hot rare {pad}")
        else:
            texts.append(f"hot {pad}")
    pdf = pd.DataFrame(
        {
            "conv_id": [f"c{i:05d}" for i in range(len(texts))],
            "turn_idx": 0,
            "text": texts,
        }
    )
    built = build_index(spark, spark.createDataFrame(pdf))
    s = Searcher(
        spark, built.postings, built.dictionary, built.n_docs, built.avgdl
    )
    acc = spark.sparkContext.accumulator(0)
    fast = [
        (r["doc_id"], round(r["score"], 9))
        for r in s.topk_dismax(
            "hot rare", 5, tie_breaker=0.2, skip_acc=acc
        ).collect()
    ]
    twin = [
        (r["doc_id"], round(r["score"], 9))
        for r in s.topk_dismax_dataframe("hot rare", 5, tie_breaker=0.2).collect()
    ]
    assert fast == twin and fast
    assert acc.value > 0, "no pruning on the skewed corpus"
    built.release()


# ---------------- round-6 ADVICE fixes ----------------


def test_negative_boost_raises_on_every_path(spark, pcorpus):
    """The boost >= 0 validation is shared: topk_dataframe and
    topk_filtered must raise exactly like topk_blockmax — never silently
    produce negative contributions (round-5 ADVICE)."""
    pdf, _, s = pcorpus
    allowed = spark.range(100).select(F.col("id").alias("doc_id"))
    for call in (
        lambda: s.topk_dataframe("zephyr", 10, boosts={"zephyr": -2.0}),
        lambda: s.topk_blockmax("zephyr", 10, boosts={"zephyr": -2.0}),
        lambda: s.topk_filtered("zephyr", allowed, 10, boosts={"zephyr": -2.0}),
    ):
        with pytest.raises(ValueError, match="boosts"):
            call().collect()


def test_filtered_honors_boosts(spark, pcorpus):
    """--filter + --boost on the DataFrame path: topk_filtered(boosts=)
    must score-match topk_blockmax(allowed=, boosts=)."""
    pdf, _, s = pcorpus
    q = "zephyr quantum"
    boosts = {"zephyr": 3.0}
    allowed = spark.range(0, len(pdf), 2).select(F.col("id").alias("doc_id"))
    fast = [
        (r["doc_id"], round(r["score"], 9))
        for r in s.topk_blockmax(q, 1000, allowed=allowed, boosts=boosts).collect()
    ]
    twin = [
        (r["doc_id"], round(r["score"], 9))
        for r in s.topk_filtered(q, allowed, 1000, boosts=boosts).collect()
    ]
    assert fast == twin and fast


def test_regexp_class_java_metasyntax_is_literal(spark):
    """Inside [...] classes, '&' and '[' are literal in Lucene/RE2 but
    metasyntax in Java — the translation must escape them so all three
    engines agree (round-5 ADVICE)."""
    from rabbit_index_ingest_spark.index.build import build_index as _bi

    rows = [("c0", 0, "ab a9 aa ax a& a[")]
    df = spark.createDataFrame(rows, "conv_id string, turn_idx int, text string")
    built = _bi(spark, df)
    s = Searcher(spark, built.postings, built.dictionary, built.n_docs, built.avgdl)
    # Java would parse [b&&[9]] as intersection (empty); Lucene/RE2 match
    # the literal chars b, &, [, 9, ] — our contract: literal
    got = s.expand_regexp("a[b&&x]")
    assert got == ["ab", "ax"]  # '&' literal: never a token char, no match
    # nested '[' is a literal member of the class, not a union opener
    got2 = s.expand_regexp("a[[b]")
    assert got2 == ["ab"]
    built.release()


def test_sort_by_attrless_match_ranks_last_and_filters(spark, pcorpus):
    """A matched doc with NO attrs row must rank last (like a null value),
    not disappear; allowed/excluded compose over the match set."""
    pdf, _, s = pcorpus
    q = "zephyr quantum karo"
    qt = set(py_tokenize(q))
    matched = [i for i, t in enumerate(pdf["text"]) if qt & set(py_tokenize(t))]
    assert len(matched) > 3
    # attrs table MISSING the first matched doc entirely
    missing = matched[0]
    attrs = spark.createDataFrame(
        [(i, i * 10) for i in range(len(pdf)) if i != missing],
        "doc_id long, n long",
    )
    got = [r["doc_id"] for r in s.sort_by(q, attrs, "n", k=1000).collect()]
    want = sorted(m for m in matched if m != missing) + [missing]
    assert got == want, "attr-less matched doc must surface last"
    # allowed / excluded compose
    allowed = spark.createDataFrame(
        [(m,) for m in matched[:3]], "doc_id long"
    )
    excluded = spark.createDataFrame([(matched[1],)], "doc_id long")
    got2 = [
        r["doc_id"]
        for r in s.sort_by(q, attrs, "n", k=1000, allowed=allowed,
                           excluded=excluded).collect()
    ]
    want2 = sorted(
        m for m in matched[:3] if m != matched[1] and m != missing
    ) + ([missing] if missing in matched[:3] and missing != matched[1] else [])
    assert got2 == want2


# ---------------- search_after (ES deep pagination) ----------------


def test_search_after_tiles_ranking_and_matches_page(spark, pcorpus):
    """Successive cursor hops reproduce the full ranking exactly and agree
    with from/size paging at every depth; past-the-end cursor is empty."""
    _, _, s = pcorpus
    q = "zephyr quantum karo"
    full = [
        (r["doc_id"], r["score"])
        for r in s.topk_blockmax(q, 10_000_000).collect()
    ]
    assert len(full) > 7
    step = 3
    pages, cur = [], None
    for hop in range(len(full) // step + 2):
        rows = s.search_after(q, k=step, after=cur).collect()
        got = [(r["doc_id"], r["score"]) for r in rows]
        want_page = [
            (r["doc_id"], r["score"])
            for r in s.page(q, from_=hop * step, size=step).collect()
        ]
        assert got == want_page, f"hop {hop}"
        if not got:
            break
        pages.extend(got)
        cur = (rows[-1]["score"], rows[-1]["doc_id"])
    assert pages == full
    # cursor strictly past the end -> empty
    last = full[-1]
    assert s.search_after(q, k=5, after=(last[1], last[0])).count() == 0


def test_search_after_score_tie_cursor(spark):
    """Cursor inside a run of EQUAL scores (identical docs): the doc_id
    tie predicate must split the run exactly, no dup/skip across pages."""
    rows = [(f"c{i:04d}", 0, "tie tie breaker words") for i in range(30)]
    rows += [(f"d{i:04d}", 0, "other filler text") for i in range(5)]
    df = spark.createDataFrame(rows, "conv_id string, turn_idx int, text string")
    built = build_index(spark, df)
    s = Searcher(spark, built.postings, built.dictionary, built.n_docs, built.avgdl)
    q = "tie breaker"
    full = [(r["doc_id"], r["score"]) for r in s.topk_blockmax(q, 1000).collect()]
    assert len(full) == 30 and len({sc for _, sc in full}) == 1, "need a tie run"
    seen, cur = [], None
    while True:
        rows_ = s.search_after(q, k=7, after=cur).collect()
        if not rows_:
            break
        seen.extend((r["doc_id"], r["score"]) for r in rows_)
        cur = (rows_[-1]["score"], rows_[-1]["doc_id"])
    assert seen == full
    built.release()


def test_search_after_cost_does_not_grow_with_depth(spark):
    """Deep-paging cost contract: the cursor path (a) prunes AT LEAST as
    many blocks as the equivalent from/size query (the kth-best eligible
    score equals the (depth+k)th global score, so θ converges to the same
    value — never weaker), and (b) emits at most k rows per doc range
    regardless of depth, where page() must rank and ship from_+size rows.
    Corpus: block-graded tf so block upper bounds genuinely vary and both
    paths skip > 0 blocks."""
    rows = []
    for i in range(12000):
        reps = 1 + (i // 300)  # later 128-doc blocks carry higher max_tf
        bonus = "rare gem " if i % 911 == 0 else ""
        rows.append(
            (f"c{i:05d}", 0, ("hot " * reps) + bonus + f"filler w{i % 17}")
        )
    df = spark.createDataFrame(rows, "conv_id string, turn_idx int, text string")
    built = build_index(spark, df)
    s = Searcher(
        spark, built.postings, built.dictionary, built.n_docs, built.avgdl,
        probe_min_blocks=1,
    )
    q = "hot rare"
    depth, k = 60, 10
    full = [(r["doc_id"], r["score"]) for r in s.topk_blockmax(q, depth + k).collect()]
    assert len(full) > depth
    cur = (full[depth - 1][1], full[depth - 1][0])
    acc_sa = spark.sparkContext.accumulator(0)
    got = [
        (r["doc_id"], r["score"])
        for r in s.search_after(q, k=k, after=cur, skip_acc=acc_sa).collect()
    ]
    assert got == full[depth:depth + k], "search_after page != ranking slice"
    acc_pg = spark.sparkContext.accumulator(0)
    s.topk_blockmax(q, depth + k, skip_acc=acc_pg).collect()
    # θ converges to the same value on both paths; the cursor side warms
    # up a few blocks later (a doc's partial only counts once PROVABLY
    # below the cursor), so allow a small constant-factor slack — the
    # contract is same-asymptotic pruning with O(k) instead of O(depth+k)
    # heap/transfer, exactly ES's search_after-vs-from trade
    assert acc_pg.value > 0 and acc_sa.value >= int(0.85 * acc_pg.value), (
        f"cursor pruning degraded vs from/size "
        f"(sa={acc_sa.value}, page={acc_pg.value})"
    )
    # (b) O(k) rows per page at any depth — page() would return depth+k
    assert len(got) == k
    built.release()


def test_search_after_composes_with_filter_and_boosts(spark, pcorpus):
    pdf, _, s = pcorpus
    q = "zephyr quantum karo"
    boosts = {"karo": 2.0}
    allowed = spark.range(0, len(pdf), 2).select(F.col("id").alias("doc_id"))
    full = [
        (r["doc_id"], r["score"])
        for r in s.topk_blockmax(q, 1000, allowed=allowed, boosts=boosts).collect()
    ]
    assert len(full) > 4
    cur = (full[1][1], full[1][0])
    got = [
        (r["doc_id"], r["score"])
        for r in s.search_after(q, k=2, after=cur, allowed=allowed,
                                boosts=boosts).collect()
    ]
    assert got == full[2:4]


# -------- significant_terms + composite aggregations (ES aggs) --------


def test_significant_terms_matches_python_oracle(spark, pcorpus):
    pdf, built, s = pcorpus
    q = "karo"
    qt = set(py_tokenize(q))
    docs_toks = [set(py_tokenize(t)) for t in pdf["text"]]
    fg_idx = [i for i, d in enumerate(docs_toks) if qt & d]
    fg_size, n = len(fg_idx), len(pdf)
    assert fg_size > 3
    from collections import Counter
    fg_cnt = Counter(t for i in fg_idx for t in docs_toks[i])
    bg_cnt = Counter(t for d in docs_toks for t in d)
    want = []
    for t, fgc in fg_cnt.items():
        if fgc < 3:
            continue
        fgp, bgp = fgc / fg_size, bg_cnt[t] / n
        if fgp > bgp:
            want.append((t, fgc, bg_cnt[t], (fgp - bgp) * (fgp / bgp)))
    want.sort(key=lambda r: (-r[3], r[0]))
    want = [(t, f, b, round(sc, 9)) for t, f, b, sc in want[:10]]
    got = [
        (r["term"], r["fg_count"], r["bg_count"], round(r["score"], 9))
        for r in s.significant_terms(q, built.docs, size=10).collect()
    ]
    assert got == want and got
    # the query term itself should top the list (perfectly significant)
    assert got[0][0] == "karo"
    # absent query / bad args
    assert s.significant_terms("qzxabsent", built.docs).count() == 0
    with pytest.raises(ValueError, match="size"):
        s.significant_terms(q, built.docs, size=0)
    with pytest.raises(ValueError, match="not in attrs"):
        s.significant_terms(q, built.docs.drop("text"))


def test_composite_agg_tiles_all_buckets(spark, pcorpus):
    pdf, built, s = pcorpus
    q = "zephyr quantum karo"
    qt = set(py_tokenize(q))
    matched = [i for i, t in enumerate(pdf["text"]) if qt & set(py_tokenize(t))]
    attrs = built.doc_stats.select(
        "doc_id", "turn_idx", (F.col("dl") % 3).alias("dl3")
    )
    dl = {i: len(py_tokenize(pdf["text"][i])) for i in matched}
    from collections import Counter
    want_cnt = Counter((int(pdf["turn_idx"][i]), dl[i] % 3) for i in matched)
    want = sorted((k[0], k[1], c) for k, c in want_cnt.items())
    assert len(want) > 4
    got, after = [], None
    while True:
        rows = s.composite_agg(q, attrs, ["turn_idx", "dl3"], size=3,
                               after=after).collect()
        if not rows:
            break
        got.extend((r["turn_idx"], r["dl3"], r["doc_count"]) for r in rows)
        after = (rows[-1]["turn_idx"], rows[-1]["dl3"])
    assert got == want
    with pytest.raises(ValueError, match="after key"):
        s.composite_agg(q, attrs, ["turn_idx", "dl3"], after=(1,))
    with pytest.raises(ValueError, match="non-empty"):
        s.composite_agg(q, attrs, [])


def test_top_hits_agg_matches_python_oracle(spark, pcorpus):
    pdf, built, s = pcorpus
    q = "zephyr quantum karo"
    qt = sorted(set(py_tokenize(q)))
    import math
    from rabbit_index_ingest_spark.index.codec import B as bB
    from rabbit_index_ingest_spark.index.codec import K1 as kK
    toks = [py_tokenize(t) for t in pdf["text"]]
    n = len(pdf)
    avgdl = sum(len(d) for d in toks) / n
    scores = {}
    for i, d in enumerate(toks):
        sc = 0.0
        for t in qt:
            tf = d.count(t)
            if not tf:
                continue
            df = sum(1 for dd in toks if t in dd)
            idf = math.log(1.0 + (n - df + 0.5) / (df + 0.5))
            sc += idf * tf * (kK + 1.0) / (tf + kK * (1.0 - bB + bB * len(d) / avgdl))
        if sc > 0:
            scores[i] = sc
    # facet: turn_idx, with one bucket nulled to prove null-drop
    fvals = {i: (None if pdf["turn_idx"][i] == 2 else str(pdf["turn_idx"][i]))
             for i in range(n)}
    attrs = spark.createDataFrame(
        [(i, fvals[i]) for i in range(n)], "doc_id long, fv string"
    )
    from collections import Counter, defaultdict
    sizes = Counter(fvals[i] for i in scores if fvals[i] is not None)
    top_buckets = [v for v, _ in sorted(sizes.items(), key=lambda kv: (-kv[1], kv[0]))[:3]]
    want = []
    per = defaultdict(list)
    for i, sc in scores.items():
        if fvals[i] in top_buckets:
            per[fvals[i]].append((i, sc))
    for v, lst in per.items():
        lst.sort(key=lambda x: (-x[1], x[0]))
        for r, (i, sc) in enumerate(lst[:2], start=1):
            want.append((v, i, round(sc, 9), r))
    got = [
        (r["value"], r["doc_id"], round(r["score"], 9), r["rank"])
        for r in s.top_hits_agg(q, attrs, "fv", hits_per_bucket=2,
                                n_buckets=3).collect()
    ]
    assert sorted(got) == sorted(want) and got
    with pytest.raises(ValueError, match="hits_per_bucket"):
        s.top_hits_agg(q, attrs, "fv", hits_per_bucket=0)
    assert s.top_hits_agg("qzxabsent", attrs, "fv").count() == 0


def test_exists_filter_composes(spark, pcorpus):
    pdf, built, s = pcorpus
    q = "zephyr quantum karo"
    attrs = spark.createDataFrame(
        [(i, i if i % 3 else None) for i in range(len(pdf))],
        "doc_id long, maybe long",
    )
    allowed = s.exists_filter(attrs, "maybe")
    got = {r["doc_id"] for r in s.topk_blockmax(q, 1000, allowed=allowed).collect()}
    base = {r["doc_id"] for r in s.topk_blockmax(q, 1000).collect()}
    assert got == {d for d in base if d % 3 != 0} and got


def test_match_bool_prefix(spark, pcorpus):
    """ES match_bool_prefix: last token is a prefix, the rest are term
    clauses, all one bool SHOULD — must equal the BM25 disjunction over
    fixed terms + prefix expansions."""
    pdf, _, s = pcorpus
    expansions = s.expand_prefix("ka")[:50]  # the method's sorted-first cap
    assert len(expansions) > 1
    want = [
        (r["doc_id"], round(r["score"], 9))
        for r in s.topk_dataframe(
            " ".join(sorted({"zephyr"} | set(expansions))), 50
        ).collect()
    ]
    got = [
        (r["doc_id"], round(r["score"], 9))
        for r in s.topk_match_bool_prefix("zephyr ka", 50).collect()
    ]
    assert got == want and got
    # single token: pure prefix disjunction over the same capped set
    got1 = [
        (r["doc_id"], round(r["score"], 9))
        for r in s.topk_match_bool_prefix("ka", 50).collect()
    ]
    want1 = [
        (r["doc_id"], round(r["score"], 9))
        for r in s.topk_dataframe(" ".join(expansions), 50).collect()
    ]
    assert got1 == want1 and got1
    # truncation cap respected (sorted-first expansions)
    few = s.expand_prefix("ka")[:1]
    got2 = [
        (r["doc_id"], round(r["score"], 9))
        for r in s.topk_match_bool_prefix("ka", 50, max_expansions=1).collect()
    ]
    want2 = [
        (r["doc_id"], round(r["score"], 9))
        for r in s.topk_dataframe(" ".join(few), 50).collect()
    ]
    assert got2 == want2
    assert s.topk_match_bool_prefix("", 10).count() == 0
    assert s.topk_match_bool_prefix("qzxabsentprefix", 10).count() == 0


# ---------------- bool query DSL + simple_query_string ----------------

BIGK = 1_000_000


def _scored_map(df):
    return {r["doc_id"]: r["score"] for r in df.collect()}


def test_bool_query_must_should_must_not(spark, pcorpus):
    """ES bool: final score = sum of matching must+should clause scores
    over the must match set, minus must_not docs — combined here from the
    independently-tested single-clause engines."""
    _, _, s = pcorpus
    must = _scored_map(s.topk_dataframe("zephyr quantum", BIGK))
    ph = _scored_map(s.topk_phrase_dataframe("quantum lattice", BIGK))
    boosted = {
        d: 2.0 * v
        for d, v in _scored_map(s.topk_dataframe("karo", BIGK)).items()
    }
    bad = set(_scored_map(s.topk_dataframe("mika", BIGK)))
    assert must and ph and boosted and bad
    assert set(must) & bad, "fixture: must_not must actually exclude"
    want = {
        d: round(v + ph.get(d, 0.0) + boosted.get(d, 0.0), 6)
        for d, v in must.items()
        if d not in bad
    }
    got = {
        r["doc_id"]: round(r["score"], 6)
        for r in s.bool_query(
            must=[{"match": {"query": "zephyr quantum"}}],
            should=[
                {"match_phrase": {"query": "quantum lattice"}},
                {"match": {"query": "karo", "boost": 2.0}},
            ],
            must_not=[{"match": {"query": "mika"}}],
            k=BIGK,
        ).collect()
    }
    assert got == want and got


def test_bool_should_only_equals_disjunction_and_msm(spark, pcorpus):
    """should-only bool with per-term match clauses is score-identical to
    the plain disjunction (default msm=1) / topk_msm (explicit msm)."""
    _, _, s = pcorpus
    want = {
        (r["doc_id"], round(r["score"], 9))
        for r in s.topk_dataframe("zephyr karo", BIGK).collect()
    }
    shoulds = [{"match": {"query": "zephyr"}}, {"match": {"query": "karo"}}]
    got = {
        (r["doc_id"], round(r["score"], 9))
        for r in s.bool_query(should=shoulds, k=BIGK).collect()
    }
    assert got == want and got
    want2 = {
        (r["doc_id"], round(r["score"], 9))
        for r in s.topk_msm_dataframe("zephyr karo", BIGK, msm=2).collect()
    }
    got2 = {
        (r["doc_id"], round(r["score"], 9))
        for r in s.bool_query(
            should=shoulds, minimum_should_match=2, k=BIGK
        ).collect()
    }
    assert got2 == want2 and got2 and len(got2) < len(got)


def test_bool_must_and_with_range_filter(spark, pcorpus):
    """must operator:and + attr range filter == topk_and over the same
    allow-list."""
    _, built, s = pcorpus
    attrs = built.doc_stats.select("doc_id", "turn_idx")
    allowed = attrs.where((F.col("turn_idx") >= 1) & (F.col("turn_idx") < 4))
    want = {
        (r["doc_id"], round(r["score"], 9))
        for r in s.topk_and("karo roka", BIGK, allowed=allowed).collect()
    }
    got = {
        (r["doc_id"], round(r["score"], 9))
        for r in s.bool_query(
            must=[{"match": {"query": "karo roka", "operator": "and"}}],
            filter=[{"range": {"col": "turn_idx", "gte": 1, "lt": 4}}],
            attrs=attrs,
            k=BIGK,
        ).collect()
    }
    assert got == want and got


def test_bool_filter_only_and_edge_cases(spark, pcorpus):
    _, built, s = pcorpus
    attrs = built.doc_stats.select("doc_id", "turn_idx")
    rows = s.bool_query(
        filter=[{"term": {"col": "turn_idx", "value": 2}}],
        must_not=[{"match": {"query": "karo"}}],
        attrs=attrs,
        k=BIGK,
    ).collect()
    karo = set(_scored_map(s.topk_dataframe("karo", BIGK)))
    want_ids = sorted(
        r["doc_id"]
        for r in attrs.where(F.col("turn_idx") == 2).collect()
        if r["doc_id"] not in karo
    )
    assert [r["doc_id"] for r in rows] == want_ids and want_ids
    assert all(r["score"] == 0.0 for r in rows)
    # an unmatchable must empties the result
    assert s.bool_query(must=[{"match": {"query": "qzxabsent"}}]).count() == 0
    # explicit msm counts the unmatchable should clause in its denominator
    assert (
        s.bool_query(
            should=[
                {"match": {"query": "zephyr"}},
                {"match": {"query": "qzxabsent"}},
            ],
            minimum_should_match=2,
        ).count()
        == 0
    )
    # an unmatchable should is transparent under the default msm
    assert s.bool_query(
        must=[{"match": {"query": "zephyr"}}],
        should=[{"match": {"query": "qzxabsent"}}],
        k=5,
    ).count() > 0
    with pytest.raises(ValueError, match="at least one"):
        s.bool_query()
    with pytest.raises(ValueError, match="unknown scored clause"):
        s.bool_query(must=[{"bogus": {"query": "x"}}])
    with pytest.raises(ValueError, match="needs attrs"):
        s.bool_query(
            must=[{"match": {"query": "karo"}}],
            filter=[{"exists": {"col": "x"}}],
        )
    with pytest.raises(ValueError, match="gte/gt/lte/lt"):
        s.bool_query(
            must=[{"match": {"query": "karo"}}],
            filter=[{"range": {"col": "turn_idx"}}],
            attrs=attrs,
        )


def test_simple_query_string_parser(spark, pcorpus):
    from rabbit_index_ingest_spark.index.query import parse_simple_query_string

    spec = parse_simple_query_string(
        '+karo -mika "quantum lattice" zephyr qu* -"obsidian falcon"'
    )
    assert spec == {
        "must": [{"match": {"query": "karo"}}],
        "should": [
            {"match_phrase": {"query": "quantum lattice"}},
            {"match": {"query": "zephyr"}},
            {"prefix": {"value": "qu"}},
        ],
        "must_not": [
            {"match": {"query": "mika"}},
            {"match_phrase": {"query": "obsidian falcon"}},
        ],
    }
    # default_operator=and promotes bare tokens to must
    spec_and = parse_simple_query_string("karo zephyr", "and")
    assert spec_and["must"] == [
        {"match": {"query": "karo"}},
        {"match": {"query": "zephyr"}},
    ]
    assert spec_and["should"] == []
    # leniency: stray syntax never throws; punctuation analyzes away
    junk = parse_simple_query_string('( karo | zephyr ) ~2 - "')
    assert {"match": {"query": "karo"}} in junk["should"]
    assert {"match": {"query": "zephyr"}} in junk["should"]
    with pytest.raises(ValueError, match="default_operator"):
        parse_simple_query_string("x", "nor")


def test_query_string_end_to_end(spark, pcorpus):
    _, _, s = pcorpus
    text = '+karo "quantum lattice" qu* -mika'
    want = {
        (r["doc_id"], round(r["score"], 6))
        for r in s.bool_query(
            must=[{"match": {"query": "karo"}}],
            should=[
                {"match_phrase": {"query": "quantum lattice"}},
                {"prefix": {"value": "qu"}},
            ],
            must_not=[{"match": {"query": "mika"}}],
            k=BIGK,
        ).collect()
    }
    got = {
        (r["doc_id"], round(r["score"], 6))
        for r in s.topk_query_string(text, BIGK).collect()
    }
    assert got == want and got
    # prohibit-only input: match_all minus the excluded set, score 0
    karo = set(_scored_map(s.topk_dataframe("karo", BIGK)))
    rows = s.topk_query_string("-karo", BIGK).collect()
    alldocs = set(_scored_map(s.topk_dataframe("karo roka mika", BIGK)))
    assert {r["doc_id"] for r in rows}.isdisjoint(karo)
    assert all(r["score"] == 0.0 for r in rows)
    assert {r["doc_id"] for r in rows} >= (alldocs - karo)
    assert s.topk_query_string("", 10).count() == 0
    assert s.topk_query_string("...", 10).count() == 0


# ------- function_score / collapse / percentiles / suggest / MLT -------


def test_percentiles_agg_matches_numpy(spark, pcorpus):
    import numpy as np

    _, built, s = pcorpus
    attrs = built.doc_stats.select("doc_id", "turn_idx")
    q = "karo"
    matched = set(_scored_map(s.topk_dataframe(q, BIGK)))
    vals = [
        r["turn_idx"] for r in attrs.collect() if r["doc_id"] in matched
    ]
    ps = (1.0, 5.0, 25.0, 50.0, 75.0, 95.0, 99.0)
    want = {p: float(np.percentile(vals, p)) for p in ps}
    got = {
        r["percent"]: r["value"]
        for r in s.percentiles_agg(q, attrs, "turn_idx").collect()
    }
    assert set(got) == set(ps)
    assert all(abs(got[p] - want[p]) < 1e-9 for p in ps)
    assert s.percentiles_agg("qzxabsent", attrs, "turn_idx").count() == 0
    with pytest.raises(ValueError, match="percents"):
        s.percentiles_agg(q, attrs, "turn_idx", percents=(101,))


def test_function_score_field_value_factor(spark, pcorpus):
    import math

    _, built, s = pcorpus
    attrs = built.doc_stats.select("doc_id", "turn_idx")
    base = _scored_map(s.topk_dataframe("karo", BIGK))
    tv = {r["doc_id"]: r["turn_idx"] for r in attrs.collect()}
    want = sorted(
        ((d, v * math.log1p(2.0 * tv[d])) for d, v in base.items()),
        key=lambda t: (-t[1], t[0]),
    )[:10]
    got = [
        (r["doc_id"], r["score"])
        for r in s.topk_function_score(
            "karo", attrs, "turn_idx", k=10, factor=2.0, modifier="ln1p"
        ).collect()
    ]
    assert [(d, round(v, 9)) for d, v in got] == [
        (d, round(v, 9)) for d, v in want
    ]
    # boost_mode=sum, modifier=none
    want2 = sorted(
        ((d, v + 0.5 * tv[d]) for d, v in base.items()),
        key=lambda t: (-t[1], t[0]),
    )[:10]
    got2 = [
        (r["doc_id"], round(r["score"], 9))
        for r in s.topk_function_score(
            "karo", attrs, "turn_idx", k=10, factor=0.5, boost_mode="sum"
        ).collect()
    ]
    assert got2 == [(d, round(v, 9)) for d, v in want2]
    # missing=None drops attr-less docs; missing=M substitutes the VALUE
    half = attrs.where(F.col("doc_id") % 2 == 0)
    got3 = {
        r["doc_id"]
        for r in s.topk_function_score(
            "karo", half, "turn_idx", k=BIGK
        ).collect()
    }
    assert got3 == {d for d in base if d % 2 == 0} and got3
    got4 = {
        r["doc_id"]: round(r["score"], 9)
        for r in s.topk_function_score(
            "karo", half, "turn_idx", k=BIGK, missing=3.0
        ).collect()
    }
    want4 = {
        d: round(v * (tv[d] if d % 2 == 0 else 3.0), 9)
        for d, v in base.items()
    }
    assert got4 == want4
    with pytest.raises(ValueError, match="modifier"):
        s.topk_function_score("karo", attrs, "turn_idx", modifier="log10")
    with pytest.raises(ValueError, match="boost_mode"):
        s.topk_function_score("karo", attrs, "turn_idx", boost_mode="max")


def test_collapse_one_hit_per_group(spark, pcorpus):
    _, built, s = pcorpus
    # null-key docs form ONE shared group (Lucene missing-value bucket)
    attrs = built.doc_stats.select(
        "doc_id",
        F.when(F.col("doc_id") % 3 != 0, F.col("turn_idx")).alias("turn_idx"),
    )
    base = _scored_map(s.topk_dataframe("karo", BIGK))
    tv = {r["doc_id"]: r["turn_idx"] for r in attrs.collect()}
    best = {}
    for d, v in base.items():
        key = tv[d]
        cur = best.get(key)
        if cur is None or (-v, d) < (-cur[1], cur[0]):
            best[key] = (d, v)
    want = sorted(
        ((d, v, key) for key, (d, v) in best.items()),
        key=lambda t: (-t[1], t[0]),
    )[:5]
    got = [
        (r["doc_id"], r["score"], r["turn_idx"])
        for r in s.topk_collapse("karo", attrs, "turn_idx", k=5).collect()
    ]
    assert [(d, round(v, 9), key) for d, v, key in got] == [
        (d, round(v, 9), key) for d, v, key in want
    ]
    keys = [key for _, _, key in got]
    assert len(keys) == len(set(keys))
    assert s.topk_collapse("qzxabsent", attrs, "turn_idx", 5).count() == 0


def _lev(a: str, b: str) -> int:
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(
                min(prev[j] + 1, cur[-1] + 1, prev[j - 1] + (ca != cb))
            )
        prev = cur
    return prev[-1]


def test_suggest_term_matches_python(spark, pcorpus):
    pdf, _, s = pcorpus
    vocab_docs: dict[str, set] = {}
    for i, txt in enumerate(pdf["text"]):
        for t in set(py_tokenize(txt)):
            vocab_docs.setdefault(t, set()).add(i)
    # a misspelling absent from the corpus
    assert "zephr" not in vocab_docs
    cand = sorted(
        (
            (_lev(t, "zephr"), -len(docs), t)
            for t, docs in vocab_docs.items()
            if _lev(t, "zephr") <= 2
        ),
    )[:5]
    want = [(t, d, -negdf) for d, negdf, t in cand]
    got = [
        (r["term"], r["distance"], r["df"])
        for r in s.suggest_term("zephr").collect()
    ]
    assert got == want and ("zephyr", 1, len(vocab_docs["zephyr"])) in got
    # suggest_mode=missing returns nothing for an indexed term...
    assert s.suggest_term("karo").count() == 0
    # ...but always-mode suggests neighbors, never the term itself
    always = [r["term"] for r in s.suggest_term("karo", suggest_mode="always").collect()]
    assert always and "karo" not in always
    with pytest.raises(ValueError, match="one token"):
        s.suggest_term("two words")
    with pytest.raises(ValueError, match="suggest_mode"):
        s.suggest_term("karo", suggest_mode="sometimes")


def test_more_like_this_term_selection(spark, pcorpus):
    pdf, _, s = pcorpus
    # min_term_freq=2 keeps only the repeated term
    want = {
        (r["doc_id"], round(r["score"], 9))
        for r in s.topk_blockmax("zephyr", 20).collect()
    }
    got = {
        (r["doc_id"], round(r["score"], 9))
        for r in s.topk_more_like_this(
            "zephyr zephyr quantum karo", k=20, min_term_freq=2
        ).collect()
    }
    assert got == want and got
    # max_query_terms keeps the highest tf·idf terms: the rare sentinels
    # beat the hottest corpus term ("karo", huge df -> tiny idf)
    want2 = {
        (r["doc_id"], round(r["score"], 9))
        for r in s.topk_blockmax("quantum zephyr", 20).collect()
    }
    got2 = {
        (r["doc_id"], round(r["score"], 9))
        for r in s.topk_more_like_this(
            "zephyr quantum karo", k=20, max_query_terms=2
        ).collect()
    }
    assert got2 == want2 and got2
    # min_doc_freq excludes rare terms; absent-only input is empty
    df_z = sum(1 for t in pdf["text"] if "zephyr" in py_tokenize(t))
    df_k = sum(1 for t in pdf["text"] if "karo" in py_tokenize(t))
    assert 0 < df_z < df_k
    got3 = {
        (r["doc_id"], round(r["score"], 9))
        for r in s.topk_more_like_this(
            "zephyr karo", k=20, min_doc_freq=df_z + 1
        ).collect()
    }
    want3 = {
        (r["doc_id"], round(r["score"], 9))
        for r in s.topk_blockmax("karo", 20).collect()
    }
    assert got3 == want3
    assert s.topk_more_like_this("qzx1 qzx2", 10).count() == 0


def test_rescore_phrase_window(spark, pcorpus):
    _, _, s = pcorpus
    W, QW, RW = 30, 1.0, 2.0
    base = [
        (r["doc_id"], r["score"])
        for r in s.topk_blockmax("karo", W).collect()
    ]
    ph = _scored_map(s.topk_phrase_dataframe("karo roka", BIGK))
    assert any(d in ph for d, _ in base), "fixture: window must hit phrase"
    assert any(d not in ph for d, _ in base)
    combos = {
        "total": lambda o, r: o + r,
        "multiply": lambda o, r: o * r,
        "avg": lambda o, r: (o + r) / 2.0,
        "max": max,
        "min": min,
    }
    for mode, f in combos.items():
        want = sorted(
            (
                (d, f(QW * v, RW * ph[d]) if d in ph else QW * v)
                for d, v in base
            ),
            key=lambda t: (-t[1], t[0]),
        )[:10]
        got = [
            (r["doc_id"], r["score"])
            for r in s.topk_rescore(
                "karo", "karo roka", k=10, window_size=W,
                query_weight=QW, rescore_query_weight=RW, score_mode=mode,
            ).collect()
        ]
        assert [(d, round(v, 9)) for d, v in got] == [
            (d, round(v, 9)) for d, v in want
        ], mode
    # a rescore phrase matching nothing keeps query_weight * base
    got0 = [
        (r["doc_id"], round(r["score"], 9))
        for r in s.topk_rescore(
            "karo", "qzxa qzxb", k=10, window_size=W, query_weight=0.5
        ).collect()
    ]
    want0 = sorted(
        ((d, round(0.5 * v, 9)) for d, v in base),
        key=lambda t: (-t[1], t[0]),
    )[:10]
    assert got0 == want0
    with pytest.raises(ValueError, match="score_mode"):
        s.topk_rescore("karo", "karo roka", score_mode="sum")
    with pytest.raises(ValueError, match="window_size"):
        s.topk_rescore("karo", "karo roka", k=100, window_size=10)
    assert s.topk_rescore("qzxabsent", "karo roka", 5).count() == 0


def test_terms_agg_with_submetrics(spark, pcorpus):
    _, built, s = pcorpus
    attrs = built.doc_stats.select("doc_id", "turn_idx")
    matched = set(_scored_map(s.topk_dataframe("karo", BIGK)))
    tv = {r["doc_id"]: r["turn_idx"] for r in attrs.collect()}
    buckets: dict[int, list[int]] = {}
    for d in matched:
        buckets.setdefault(tv[d], []).append(d)
    want = sorted(
        (
            (key, len(ds), sum(ds) / len(ds), float(min(ds)))
            for key, ds in buckets.items()
        ),
        key=lambda t: (-t[1], t[0]),
    )[:5]
    got = [
        (r["value"], r["doc_count"], r["avg_doc"], r["min_doc"])
        for r in s.terms_agg(
            "karo", attrs, "turn_idx",
            metrics=[("avg_doc", "avg", "doc_id"), ("min_doc", "min", "doc_id")],
            size=5,
        ).collect()
    ]
    assert [(k, c, round(a, 9), m) for k, c, a, m in got] == [
        (k, c, round(a, 9), m) for k, c, a, m in want
    ] and got
    # plain terms agg (no metrics) == facet-count semantics
    got2 = [
        (r["value"], r["doc_count"])
        for r in s.terms_agg("karo", attrs, "turn_idx", size=3).collect()
    ]
    assert got2 == [(k, c) for k, c, _, _ in want][:3]
    with pytest.raises(ValueError, match="metric fn"):
        s.terms_agg("karo", attrs, "turn_idx", metrics=[("x", "median", "doc_id")])
    assert s.terms_agg("qzxabsent", attrs, "turn_idx").count() == 0


# ---------------- round-6 batch 2: boosting / filters / terms_set /
# nested aggs / span_first / explain ----------------


def test_boosting_demotes_not_excludes(spark, pcorpus):
    """ES boosting query: negative matches stay in the result, score
    multiplied by negative_boost — recompute from the positive scored
    set and the negative match set."""
    _, _, s = pcorpus
    big = 10_000_000
    nb = 0.25
    pos = {r["doc_id"]: r["score"]
           for r in s.topk_dataframe("zephyr karo", big).collect()}
    neg = {r["doc_id"]
           for r in s.topk_dataframe("quantum", big).collect()}
    want = sorted(
        ((d, sc * nb if d in neg else sc) for d, sc in pos.items()),
        key=lambda t: (-t[1], t[0]),
    )
    got = [
        (r["doc_id"], r["score"])
        for r in s.topk_boosting(
            {"match": {"query": "zephyr karo"}},
            {"match": {"query": "quantum"}}, nb, k=big,
        ).collect()
    ]
    assert [(d, round(x, 9)) for d, x in got] == [
        (d, round(x, 9)) for d, x in want
    ] and got
    assert pos.keys() & neg, "fixture must demote at least one doc"
    # unmatchable negative = no demotion; unmatchable positive = empty
    base = [
        (r["doc_id"], r["score"])
        for r in s.topk_boosting(
            {"match": {"query": "zephyr karo"}},
            {"match": {"query": "qzxabsent"}}, nb, k=big,
        ).collect()
    ]
    assert base == sorted(pos.items(), key=lambda t: (-t[1], t[0]))
    assert s.topk_boosting(
        {"match": {"query": "qzxabsent"}},
        {"match": {"query": "zephyr"}}, nb,
    ).count() == 0
    with pytest.raises(ValueError, match="negative_boost"):
        s.topk_boosting({"match": {"query": "zephyr"}},
                        {"match": {"query": "karo"}}, 1.5)


def test_filters_agg_named_buckets(spark, pcorpus):
    """ES filters aggregation: overlapping named buckets + other bucket,
    counted against a pandas oracle over the match set."""
    pdf, built, s = pcorpus
    q = "zephyr karo"
    qt = set(py_tokenize(q))
    matched = [i for i, t in enumerate(pdf["text"])
               if qt & set(py_tokenize(t))]
    tv = {i: int(pdf["turn_idx"][i]) for i in matched}
    want = {
        "early": sum(1 for i in matched if tv[i] < 3),
        "late": sum(1 for i in matched if tv[i] >= 3),
        "all": len(matched),
        "rest": 0,  # early/late cover everything, all overlaps both
    }
    attrs = built.doc_stats.select("doc_id", "turn_idx")
    got = {
        r["name"]: r["doc_count"]
        for r in s.filters_agg(
            q, attrs,
            {"early": {"range": {"col": "turn_idx", "lt": 3}},
             "late": {"range": {"col": "turn_idx", "gte": 3}},
             "all": {"exists": {"col": "turn_idx"}}},
            other_bucket_key="rest",
        ).collect()
    }
    assert got == want and want["all"] > 0
    # term filter + empty bucket keeps its name at 0
    got2 = {
        r["name"]: r["doc_count"]
        for r in s.filters_agg(
            q, attrs,
            {"t0": {"term": {"col": "turn_idx", "value": 0}},
             "none": {"term": {"col": "turn_idx", "value": -99}}},
        ).collect()
    }
    assert got2 == {
        "t0": sum(1 for i in matched if tv[i] == 0), "none": 0
    }
    # absent query: named buckets all zero
    gone = {
        r["name"]: r["doc_count"]
        for r in s.filters_agg(
            "qzxabsent", attrs,
            {"t0": {"term": {"col": "turn_idx", "value": 0}}},
        ).collect()
    }
    assert gone == {"t0": 0}
    with pytest.raises(ValueError, match="at least one"):
        s.filters_agg(q, attrs, {})


def test_terms_set_per_doc_msm(spark, pcorpus):
    """ES terms_set: per-doc minimum_should_match from an attr field —
    oracle = disjunction scored set gated by a pandas matched-term
    count."""
    pdf, built, s = pcorpus
    terms = ["zephyr", "karo", "quantum"]
    big = 10_000_000
    scores = {r["doc_id"]: r["score"]
              for r in s.topk_dataframe(" ".join(terms), big).collect()}
    # per-doc requirement: turn_idx (0..n) — 0 clamps to 1 (CoveringQuery)
    attrs = built.doc_stats.select("doc_id", "turn_idx")
    req = {r["doc_id"]: int(r["turn_idx"]) for r in attrs.collect()}
    docs_toks = {
        r["doc_id"]: set(py_tokenize(pdf["text"][i]))
        for i, r in enumerate(
            built.doc_stats.orderBy("conv_id", "turn_idx").collect()
        )
    }
    want = sorted(
        (
            (d, sc) for d, sc in scores.items()
            if len(set(terms) & docs_toks[d]) >= max(1, req[d])
        ),
        key=lambda t: (-t[1], t[0]),
    )
    got = [
        (r["doc_id"], r["score"])
        for r in s.topk_terms_set(terms, attrs, "turn_idx", k=big).collect()
    ]
    assert [(d, round(x, 9)) for d, x in got] == [
        (d, round(x, 9)) for d, x in want
    ] and got
    # requirements above the term count are unsatisfiable
    hi = attrs.select("doc_id", (F.col("turn_idx") + 99).alias("r"))
    assert s.topk_terms_set(terms, hi, "r", k=big).count() == 0
    # docs whose requirement field is NULL never match
    nulls = attrs.select("doc_id", F.lit(None).cast("long").alias("r"))
    assert s.topk_terms_set(terms, nulls, "r", k=big).count() == 0
    with pytest.raises(ValueError, match="at least one term"):
        s.topk_terms_set([], attrs, "turn_idx")
    with pytest.raises(ValueError, match="not in attrs"):
        s.topk_terms_set(terms, attrs, "nope")


def test_date_histogram_terms_nested(spark, pcorpus):
    """Nested bucket agg: top-size terms sub-buckets per month bucket,
    with the parent bucket total carrying NULL sub-values."""
    pdf, built, s = pcorpus
    q = "zephyr karo"
    qt = set(py_tokenize(q))
    stats = built.doc_stats.orderBy("conv_id", "turn_idx").collect()
    toks = [set(py_tokenize(t)) for t in pdf["text"]]
    # deterministic synthetic attrs: month from doc_id, source with NULLs
    month = {r["doc_id"]: int(r["doc_id"]) % 3 + 1 for r in stats}
    src = {
        r["doc_id"]: (None if r["doc_id"] % 5 == 0
                      else f"s{int(r['doc_id']) % 4}")
        for r in stats
    }
    matched = [r["doc_id"] for i, r in enumerate(stats) if qt & toks[i]]
    assert matched
    from collections import Counter
    per_bucket: dict[int, Counter] = {}
    totals: dict[int, int] = {}
    for d in matched:
        totals[month[d]] = totals.get(month[d], 0) + 1
        if src[d] is not None:
            per_bucket.setdefault(month[d], Counter())[src[d]] += 1
    want = []
    for m in sorted(per_bucket):
        top = sorted(per_bucket[m].items(), key=lambda kv: (-kv[1], kv[0]))[:2]
        want.extend(
            (f"2024-0{m}-01 00:00:00", totals[m], v, c) for v, c in top
        )
    attrs = built.doc_stats.select(
        "doc_id",
        F.expr("make_timestamp(2024, cast(doc_id % 3 + 1 AS int), 1, 0, 0, 0)")
        .alias("ts"),
        F.when(F.col("doc_id") % 5 == 0, F.lit(None))
        .otherwise(F.concat(F.lit("s"), (F.col("doc_id") % 4).cast("string")))
        .alias("src"),
    )
    got = [
        (r["bucket"].strftime("%Y-%m-%d %H:%M:%S"), r["bucket_count"],
         r["value"], r["doc_count"])
        for r in s.date_histogram_terms_agg(
            q, attrs, "ts", "src", calendar_interval="month", size=2
        ).collect()
    ]
    assert got == want and got
    assert s.date_histogram_terms_agg(
        "qzxabsent", attrs, "ts", "src"
    ).count() == 0
    with pytest.raises(ValueError, match="calendar_interval"):
        s.date_histogram_terms_agg(q, attrs, "ts", "src",
                                   calendar_interval="fortnight")


def test_span_first_matches_python(spark, pcorpus):
    """span_first: freq = occurrences in the first `end` positions, then
    the standard BM25 tf-norm — full pandas recompute."""
    import math

    pdf, built, s = pcorpus
    term, end = "karo", 6
    stats = built.doc_stats.orderBy("conv_id", "turn_idx").collect()
    toks = [py_tokenize(t) for t in pdf["text"]]
    df_t = sum(1 for ts in toks if term in ts)
    idf = math.log(1.0 + (built.n_docs - df_t + 0.5) / (df_t + 0.5))
    want = []
    for i, r in enumerate(stats):
        sf = sum(1 for p in toks[i][:end] if p == term)
        if sf:
            dl = len(toks[i])
            sc = idf * sf * 2.2 / (
                sf + 1.2 * (1 - 0.75 + 0.75 * dl / built.avgdl)
            )
            want.append((r["doc_id"], sc))
    want.sort(key=lambda t: (-t[1], t[0]))
    got = [
        (r["doc_id"], r["score"])
        for r in s.topk_span_first(term, end, k=10_000_000).collect()
    ]
    assert [(d, round(x, 9)) for d, x in got] == [
        (d, round(x, 9)) for d, x in want
    ] and got
    # a doc with the term ONLY late must be excluded vs the plain match
    plain = {r["doc_id"]
             for r in s.topk_dataframe(term, 10_000_000).collect()}
    assert {d for d, _ in got} < plain
    assert s.topk_span_first("qzxabsent", 5).count() == 0
    with pytest.raises(ValueError, match="one token"):
        s.topk_span_first("two words", 5)
    with pytest.raises(ValueError, match="end"):
        s.topk_span_first(term, 0)


def test_explain_decomposes_topk_score(spark, pcorpus):
    """_explain: per-term contributions sum to the exact ranked score,
    tf/df agree with the pandas truth, tombstoned/absent docs are
    empty."""
    pdf, built, s = pcorpus
    q = "zephyr karo quantum"
    top = s.topk_blockmax(q, 3).collect()
    assert top
    toks = [py_tokenize(t) for t in pdf["text"]]
    stats = built.doc_stats.orderBy("conv_id", "turn_idx").collect()
    row_of = {r["doc_id"]: i for i, r in enumerate(stats)}
    for hit in top:
        rows = s.explain(q, hit["doc_id"]).collect()
        assert sum(r["contribution"] for r in rows) == pytest.approx(
            hit["score"], rel=1e-12
        )
        dtoks = toks[row_of[hit["doc_id"]]]
        for r in rows:
            assert r["tf"] == sum(1 for t in dtoks if t == r["term"])
            assert r["dl"] == len(dtoks)
            assert r["df"] == sum(1 for ts in toks if r["term"] in ts)
        assert [r["term"] for r in rows] == sorted(r["term"] for r in rows)
    # non-matching doc: no rows; absent query: no rows
    unmatched = next(
        r["doc_id"] for i, r in enumerate(stats)
        if not (set(py_tokenize(q)) & set(toks[i]))
    )
    assert s.explain(q, unmatched).count() == 0
    assert s.explain("qzxabsent", top[0]["doc_id"]).count() == 0


def test_bool_ids_and_match_all_clauses(spark, pcorpus):
    """bool DSL completeness: ids (constant-score per listed live doc,
    unknown ids dropped, empty list unmatchable) and match_all (every
    live doc at 1.0·boost)."""
    _, built, s = pcorpus
    big = 10_000_000
    n_live = built.n_docs
    # match_all as the only must: every doc at 1.0 (doc_id order)
    all_rows = s.bool_query(
        must=[{"match_all": {}}], k=big
    ).collect()
    assert len(all_rows) == n_live
    assert {r["score"] for r in all_rows} == {1.0}
    some = [r["doc_id"] for r in all_rows[:3]]
    # ids: exactly the listed docs, constant score, unknown ids dropped
    got = s.bool_query(
        must=[{"ids": {"values": some + [10**9], "boost": 2.0}}], k=big
    ).collect()
    assert sorted(r["doc_id"] for r in got) == sorted(some)
    assert {r["score"] for r in got} == {2.0}
    # empty ids list = unmatchable must
    assert s.bool_query(
        must=[{"ids": {"values": []}}], k=big
    ).count() == 0
    # match_all in should adds a constant to every match-set doc
    base = {r["doc_id"]: r["score"]
            for r in s.topk_dataframe("zephyr", big).collect()}
    combo = {
        r["doc_id"]: r["score"]
        for r in s.bool_query(
            must=[{"match": {"query": "zephyr"}}],
            should=[{"match_all": {"boost": 0.5}}],
            k=big,
        ).collect()
    }
    assert combo.keys() == base.keys()
    for d, sc in combo.items():
        assert sc == pytest.approx(base[d] + 0.5, rel=1e-12)
    # ids in filter position gate a scored query
    keep = sorted(base)[:2]
    filt = s.bool_query(
        must=[{"match": {"query": "zephyr"}}],
        filter=[{"ids": {"values": keep}}],
        k=big,
    ).collect()
    assert sorted(r["doc_id"] for r in filt) == keep


# -------- round-6 agg/function additions (extended_stats, weighted_avg,
# missing, adjacency_matrix, pipeline aggs, decay, completion) --------------


def _matched_ids(pdf, built, q):
    """Doc_ids of the OR match set of query q — the pandas twin of
    Searcher._matched_docs over the pcorpus fixture."""
    qt = set(py_tokenize(q))
    stats = built.doc_stats.orderBy("conv_id", "turn_idx").collect()
    toks = [set(py_tokenize(t)) for t in pdf["text"]]
    return [r["doc_id"] for i, r in enumerate(stats) if qt & toks[i]]


def test_extended_stats_agg(spark, pcorpus):
    """ES extended_stats: stats + sum_of_squares + POPULATION variance /
    std_deviation + sigma bounds; nulls excluded; empty match → 0 rows."""
    import numpy as np

    pdf, built, s = pcorpus
    q = "zephyr karo"
    matched = set(_matched_ids(pdf, built, q))
    # null out every 4th doc's value — must leave all statistics
    attrs = built.doc_stats.select(
        "doc_id",
        F.when(F.col("doc_id") % 4 != 0, F.col("turn_idx")).alias("v"),
    )
    vals = np.array(sorted(
        r["v"] for r in attrs.collect()
        if r["doc_id"] in matched and r["v"] is not None
    ), dtype=float)
    row = s.extended_stats_agg(q, attrs, "v", sigma=3.0).collect()[0]
    assert row["count"] == len(vals)
    assert row["min"] == vals.min() and row["max"] == vals.max()
    assert row["sum"] == pytest.approx(vals.sum(), rel=1e-12)
    assert row["avg"] == pytest.approx(vals.mean(), rel=1e-12)
    assert row["sum_of_squares"] == pytest.approx(
        (vals * vals).sum(), rel=1e-12
    )
    assert row["variance"] == pytest.approx(vals.var(), rel=1e-9)  # ddof=0
    assert row["std_deviation"] == pytest.approx(vals.std(), rel=1e-9)
    assert row["std_upper"] == pytest.approx(
        vals.mean() + 3.0 * vals.std(), rel=1e-9
    )
    assert row["std_lower"] == pytest.approx(
        vals.mean() - 3.0 * vals.std(), rel=1e-9
    )
    assert s.extended_stats_agg("qzxabsent", attrs, "v").count() == 0
    with pytest.raises(ValueError, match="sigma"):
        s.extended_stats_agg(q, attrs, "v", sigma=-1.0)


def test_weighted_avg_and_missing_aggs(spark, pcorpus):
    """weighted_avg: sum(v*w)/sum(w), null value drops, null weight → 1;
    missing: null values AND absent attrs rows both count."""
    pdf, built, s = pcorpus
    q = "zephyr karo"
    matched = set(_matched_ids(pdf, built, q))
    attrs = built.doc_stats.select(
        "doc_id",
        F.when(F.col("doc_id") % 7 != 0, F.col("turn_idx")).alias("v"),
        F.when(F.col("doc_id") % 3 != 0, (F.col("doc_id") % 4) + 1)
        .cast("double").alias("w"),
    )
    rows = [r for r in attrs.collect() if r["doc_id"] in matched]
    num = sum(r["v"] * (r["w"] if r["w"] is not None else 1.0)
              for r in rows if r["v"] is not None)
    den = sum((r["w"] if r["w"] is not None else 1.0)
              for r in rows if r["v"] is not None)
    got = s.weighted_avg_agg(q, attrs, "v", "w").collect()[0]["value"]
    assert got == pytest.approx(num / den, rel=1e-12)
    # missing: null v among matched, plus docs with NO attrs row at all
    half = attrs.where(F.col("doc_id") % 2 == 0)
    want_missing = sum(
        1 for r in rows
        if r["doc_id"] % 2 != 0 or r["v"] is None
    )
    got_m = s.missing_agg(q, half, "v").collect()[0]["doc_count"]
    assert got_m == want_missing
    assert s.weighted_avg_agg("qzxabsent", attrs, "v", "w").count() == 0
    assert s.missing_agg("qzxabsent", attrs, "v").count() == 0


def test_adjacency_matrix_agg(spark, pcorpus):
    """ES adjacency_matrix: singles + pair intersections as 'A&B' keys,
    empty buckets DROP (unlike filters), one agg pass."""
    pdf, built, s = pcorpus
    q = "zephyr karo"
    matched = _matched_ids(pdf, built, q)
    attrs = built.doc_stats.select(
        "doc_id", "turn_idx",
        F.when(F.col("doc_id") % 5 != 0, F.lit("x")).alias("tag"),
    )
    ti = {r["doc_id"]: r["turn_idx"] for r in built.doc_stats.collect()}
    preds = {
        "early": lambda d: ti[d] < 2,
        "late": lambda d: ti[d] >= 2,
        "tagged": lambda d: d % 5 != 0,
    }
    want = {}
    names = sorted(preds)
    for i, a in enumerate(names):
        for d in matched:
            if preds[a](d):
                want[a] = want.get(a, 0) + 1
        for b in names[i + 1:]:
            k = f"{a}&{b}"
            c = sum(1 for d in matched if preds[a](d) and preds[b](d))
            if c:
                want[k] = c
    want = {k: v for k, v in want.items() if v}
    got = {
        r["key"]: r["doc_count"]
        for r in s.adjacency_matrix_agg(q, attrs, {
            "early": {"range": {"col": "turn_idx", "lt": 2}},
            "late": {"range": {"col": "turn_idx", "gte": 2}},
            "tagged": {"exists": {"col": "tag"}},
        }).collect()
    }
    assert got == want
    assert "early&late" not in got  # disjoint pair must drop
    with pytest.raises(ValueError, match="separator"):
        s.adjacency_matrix_agg(q, attrs, {"a&b": {"exists": {"col": "tag"}}})
    with pytest.raises(ValueError, match="at least one"):
        s.adjacency_matrix_agg(q, attrs, {})
    assert s.adjacency_matrix_agg("qzxabsent", attrs, {
        "early": {"range": {"col": "turn_idx", "lt": 2}},
    }).count() == 0


def test_date_histogram_pipeline_agg(spark, pcorpus):
    """Pipeline aggs over date_histogram: cumulative_sum, derivative
    (NULL first bucket; zero-fill spine makes buckets adjacent), trailing
    moving_avg including the current bucket with partial leading
    windows."""
    pdf, built, s = pcorpus
    q = "zephyr karo"
    matched = _matched_ids(pdf, built, q)
    # months 1 and 3 only — the spine must interpolate month 2 at 0
    attrs = built.doc_stats.select(
        "doc_id",
        F.expr(
            "make_timestamp(2024, cast(1 + (doc_id % 2) * 2 AS int), "
            "1, 0, 0, 0)"
        ).alias("ts"),
    )
    by_month = {1: 0, 2: 0, 3: 0}
    for d in matched:
        by_month[1 + (d % 2) * 2] += 1
    assert by_month[1] and by_month[3]
    counts = [by_month[m] for m in (1, 2, 3)]
    cum, want = 0, []
    for i, c in enumerate(counts):
        cum += c
        deriv = None if i == 0 else c - counts[i - 1]
        window = counts[max(0, i - 1): i + 1]  # window=2 trailing incl.
        want.append((f"2024-0{i+1}-01", c, cum, deriv,
                     sum(window) / len(window)))
    got = [
        (r["bucket"].strftime("%Y-%m-%d"), r["doc_count"],
         r["cumulative_sum"], r["derivative"], r["moving_avg"])
        for r in s.date_histogram_pipeline_agg(
            q, attrs, "ts", calendar_interval="month", window=2
        ).collect()
    ]
    assert got == want
    with pytest.raises(ValueError, match="window"):
        s.date_histogram_pipeline_agg(
            q, attrs, "ts", calendar_interval="month", window=0
        )
    assert s.date_histogram_pipeline_agg(
        "qzxabsent", attrs, "ts", calendar_interval="month"
    ).count() == 0


def test_decay_functions_match_formulas(spark, pcorpus):
    """gauss/exp/linear decay: the exact ES numeric formulas (factor ==
    decay at distance scale beyond offset), missing field → 1.0,
    boost_mode sum, validation errors."""
    import math

    _, built, s = pcorpus
    attrs = built.doc_stats.select("doc_id", "turn_idx")
    base = _scored_map(s.topk_dataframe("karo", BIGK))
    tv = {r["doc_id"]: r["turn_idx"] for r in attrs.collect()}
    origin, scale, offset, decay = 2.0, 3.0, 0.5, 0.4

    def py_factor(kind, v):
        d = max(0.0, abs(v - origin) - offset)
        if kind == "gauss":
            s2 = -(scale * scale) / (2.0 * math.log(decay))
            return math.exp(-(d * d) / (2.0 * s2))
        if kind == "exp":
            return math.exp(math.log(decay) / scale * d)
        return max(0.0, (scale / (1 - decay) - d) / (scale / (1 - decay)))

    for kind in ("gauss", "exp", "linear"):
        # factor == decay exactly at |v-origin| == offset + scale
        assert py_factor(kind, origin + offset + scale) == pytest.approx(
            decay, rel=1e-12
        )
        want = sorted(
            ((d, v * py_factor(kind, tv[d])) for d, v in base.items()),
            key=lambda t: (-t[1], t[0]),
        )[:8]
        got = [
            (r["doc_id"], r["score"])
            for r in s.topk_decay(
                "karo", attrs, "turn_idx", origin=origin, scale=scale,
                offset=offset, decay=decay, kind=kind, k=8,
            ).collect()
        ]
        assert [(d, round(v, 9)) for d, v in got] == [
            (d, round(v, 9)) for d, v in want
        ], kind
    # missing field → factor 1.0 (doc keeps its raw score)
    half = attrs.where(F.col("doc_id") % 2 == 0)
    got2 = {
        r["doc_id"]: round(r["score"], 9)
        for r in s.topk_decay(
            "karo", half, "turn_idx", origin=origin, scale=scale,
            decay=decay, kind="exp", k=BIGK,
        ).collect()
    }
    want2 = {
        d: round(v * (py_factor("exp", tv[d]) if d % 2 == 0 else 1.0), 9)
        for d, v in base.items()
    }
    # py_factor with offset=0.5 above; recompute with offset=0 default
    def pf0(v):
        d = abs(v - origin)
        return math.exp(math.log(decay) / scale * d)
    want2 = {
        d: round(v * (pf0(tv[d]) if d % 2 == 0 else 1.0), 9)
        for d, v in base.items()
    }
    assert got2 == want2
    # boost_mode=sum
    got3 = [
        (r["doc_id"], round(r["score"], 9))
        for r in s.topk_decay(
            "karo", attrs, "turn_idx", origin=origin, scale=scale,
            kind="linear", boost_mode="sum", k=5,
        ).collect()
    ]
    def pfl(v):
        d = abs(v - origin)
        span = scale / (1 - 0.5)
        return max(0.0, (span - d) / span)
    want3 = sorted(
        ((d, v + pfl(tv[d])) for d, v in base.items()),
        key=lambda t: (-t[1], t[0]),
    )[:5]
    assert got3 == [(d, round(v, 9)) for d, v in want3]
    for bad in (
        dict(kind="nope"), dict(scale=0.0), dict(decay=1.0),
        dict(decay=0.0), dict(offset=-1.0), dict(boost_mode="max"),
    ):
        kw = dict(origin=0.0, scale=1.0)
        kw.update(bad)
        with pytest.raises(ValueError):
            s.topk_decay("karo", attrs, "turn_idx", **kw)
    assert s.topk_decay(
        "qzxabsent", attrs, "turn_idx", origin=0.0, scale=1.0
    ).count() == 0


def test_suggest_completion(spark, pcorpus):
    """Completion suggester: prefix-matching vocab ranked df desc, term
    asc; the exact term CAN complete itself; min_doc_freq gates."""
    pdf, built, s = pcorpus
    from collections import Counter
    df_by_term = Counter()
    for txt in pdf["text"]:
        for t in set(py_tokenize(txt)):
            df_by_term[t] += 1
    for prefix in ("qu", "z", "ka"):
        cands = [(t, c) for t, c in df_by_term.items()
                 if t.startswith(prefix)]
        want = sorted(cands, key=lambda tc: (-tc[1], tc[0]))[:4]
        got = [(r["term"], r["df"])
               for r in s.suggest_completion(prefix, size=4).collect()]
        assert got == want, prefix
    # min_doc_freq filters rare completions
    hi = [(t, c) for t, c in df_by_term.items()
          if t.startswith("z") and c >= 3]
    want_hi = sorted(hi, key=lambda tc: (-tc[1], tc[0]))[:10]
    got_hi = [(r["term"], r["df"]) for r in
              s.suggest_completion("z", size=10, min_doc_freq=3).collect()]
    assert got_hi == want_hi
    assert s.suggest_completion("xyzzynope").count() == 0
    with pytest.raises(ValueError, match="one token"):
        s.suggest_completion("two words")


def test_auto_date_histogram(spark, pcorpus):
    """ES auto_date_histogram: ladder choice from the estimated bucket
    count (floor(span/est)+1 <= target), calendar buckets for month+,
    interval rides along, zero-filled spine."""
    pdf, built, s = pcorpus
    q = "zephyr karo"
    matched = _matched_ids(pdf, built, q)
    # ts = 2024-01-01 + (doc_id % 300) days, like the entry twin
    attrs = built.doc_stats.select(
        "doc_id",
        F.expr(
            "timestamp'2024-01-01' + make_interval(0, 0, 0, "
            "cast(doc_id % 300 AS int))"
        ).alias("ts"),
    )
    import datetime as dt

    days = sorted({d % 300 for d in matched})
    span = (days[-1] - days[0]) * 86400.0
    # target 10: month must win on this span (7d rung estimates > 10)
    assert (span // 604800) + 1 > 10 >= (span // 2_592_000) + 1
    rows = s.auto_date_histogram_agg(q, attrs, "ts", buckets=10).collect()
    assert {r["interval"] for r in rows} == {"month"}
    from collections import Counter

    months = Counter(
        (dt.date(2024, 1, 1) + dt.timedelta(days=d % 300)).month
        for d in matched
    )
    lo, hi = min(months), max(months)
    want = [(f"2024-{m:02d}-01", months.get(m, 0)) for m in range(lo, hi + 1)]
    got = [(r["bucket"].strftime("%Y-%m-%d"), r["doc_count"]) for r in rows]
    assert got == want
    # a looser target lands on the 1d rung (smallest fitting)
    assert (span // 43200) + 1 > 400 >= (span // 86400) + 1
    rows_d = s.auto_date_histogram_agg(q, attrs, "ts", buckets=400).collect()
    assert {r["interval"] for r in rows_d} == {"1d"}
    assert sum(r["doc_count"] for r in rows_d) == len(matched)
    assert len(rows_d) == days[-1] - days[0] + 1  # zero-filled day spine
    with pytest.raises(ValueError, match="buckets"):
        s.auto_date_histogram_agg(q, attrs, "ts", buckets=0)
    assert s.auto_date_histogram_agg("qzxabsent", attrs, "ts").count() == 0


def test_bool_multiterm_clauses_and_terms_filter(spark, pcorpus):
    """bool DSL round-6 extension: fuzzy/wildcard/regexp scored clauses
    (constant_score rewrite, ES-inside-bool default) and the terms attr
    filter (empty list matches nothing)."""
    pdf, built, s = pcorpus
    big = 10_000_000
    vocab = {t for txt in pdf["text"] for t in py_tokenize(txt)}
    toks = [set(py_tokenize(t)) for t in pdf["text"]]
    stats = built.doc_stats.orderBy("conv_id", "turn_idx").collect()

    def matchset(terms):
        return {r["doc_id"] for i, r in enumerate(stats) if terms & toks[i]}

    # wildcard clause: qu*m* (quantum ...) at constant 1.0
    wterms = {t for t in vocab if t.startswith("qu") and "m" in t[2:]}
    got = s.bool_query(must=[{"wildcard": {"value": "qu*m*"}}], k=big).collect()
    assert {r["doc_id"] for r in got} == matchset(wterms)
    assert {r["score"] for r in got} == {1.0}
    # fuzzy clause with boost
    fterms = {t for t in vocab if _lev(t, "zephr") <= 1}
    assert fterms
    got_f = s.bool_query(
        must=[{"fuzzy": {"value": "zephr", "fuzziness": 1, "boost": 3.0}}],
        k=big,
    ).collect()
    assert {r["doc_id"] for r in got_f} == matchset(fterms)
    assert {r["score"] for r in got_f} == {3.0}
    # regexp clause composes with a scored match (constant adds on top)
    base = {r["doc_id"]: r["score"]
            for r in s.topk_dataframe("karo", big).collect()}
    rterms = {t for t in vocab if re.fullmatch("ka.o", t)}
    combo = {
        r["doc_id"]: r["score"]
        for r in s.bool_query(
            must=[{"match": {"query": "karo"}}],
            should=[{"regexp": {"value": "ka.o"}}],
            k=big,
        ).collect()
    }
    assert combo.keys() == base.keys()
    rset = matchset(rterms)
    for d, sc in combo.items():
        assert sc == pytest.approx(base[d] + (1.0 if d in rset else 0.0),
                                   rel=1e-12)
    # terms filter: gate on turn_idx values; empty list = unmatchable
    attrs = built.doc_stats.select("doc_id", "turn_idx")
    filt = s.bool_query(
        must=[{"match": {"query": "karo"}}],
        filter=[{"terms": {"col": "turn_idx", "values": [0, 2]}}],
        attrs=attrs, k=big,
    ).collect()
    ti = {r["doc_id"]: r["turn_idx"] for r in stats}
    assert {r["doc_id"] for r in filt} == {
        d for d in base if ti[d] in (0, 2)
    }
    assert s.bool_query(
        must=[{"match": {"query": "karo"}}],
        filter=[{"terms": {"col": "turn_idx", "values": []}}],
        attrs=attrs, k=big,
    ).count() == 0
    # unknown multi-term value that expands to nothing = unmatchable must
    assert s.bool_query(
        must=[{"wildcard": {"value": "qzx*nope*"}}], k=big
    ).count() == 0


def test_percentile_ranks_agg(spark, pcorpus):
    """ES percentile_ranks: exact midpoint CDF — 100·(lt + 0.5·eq)/n —
    the quantity tdigest estimates; outside-range values give 0/100."""
    _, built, s = pcorpus
    attrs = built.doc_stats.select("doc_id", "turn_idx")
    q = "karo"
    matched = set(_scored_map(s.topk_dataframe(q, BIGK)))
    vals = [r["turn_idx"] for r in attrs.collect() if r["doc_id"] in matched]
    n = len(vals)
    assert n > 0
    probe = (-1.0, 0.0, 1.5, 2.0, 6.0, 99.0)

    def want(v):
        lt = sum(1 for x in vals if x < v)
        eq = sum(1 for x in vals if x == v)
        return 100.0 * (lt + 0.5 * eq) / n

    got = {
        r["value"]: r["percent"]
        for r in s.percentile_ranks_agg(q, attrs, "turn_idx", probe).collect()
    }
    assert set(got) == set(probe)
    for v in probe:
        assert got[v] == pytest.approx(want(v), abs=1e-9)
    assert got[-1.0] == 0.0 and got[99.0] == 100.0
    assert (
        s.percentile_ranks_agg("qzxabsent", attrs, "turn_idx", probe).count()
        == 0
    )
    with pytest.raises(ValueError, match="non-empty"):
        s.percentile_ranks_agg(q, attrs, "turn_idx", ())


def test_rare_terms_agg(spark, pcorpus):
    """ES rare_terms: buckets with doc_count <= max_doc_count, rarest
    first (count asc, value asc); exact groupBy+HAVING rendering."""
    _, built, s = pcorpus
    attrs = built.doc_stats.select("doc_id", "turn_idx")
    q = "karo"
    matched = set(_scored_map(s.topk_dataframe(q, BIGK)))
    counts = Counter(
        r["turn_idx"] for r in attrs.collect() if r["doc_id"] in matched
    )
    for mdc in (1, 3, 100):
        want = sorted(
            ((v, c) for v, c in counts.items() if c <= mdc),
            key=lambda t: (t[1], t[0]),
        )
        got = [
            (r["value"], r["doc_count"])
            for r in s.rare_terms_agg(q, attrs, "turn_idx", mdc).collect()
        ]
        assert got == want, mdc
    assert s.rare_terms_agg("qzxabsent", attrs, "turn_idx").count() == 0
    with pytest.raises(ValueError, match="max_doc_count"):
        s.rare_terms_agg(q, attrs, "turn_idx", 0)
    with pytest.raises(ValueError, match="max_doc_count"):
        s.rare_terms_agg(q, attrs, "turn_idx", 101)


def test_multi_terms_agg(spark, pcorpus):
    """ES multi_terms: compound-key buckets (count desc, keys asc); a doc
    with ANY null key component joins no bucket; metric sub-aggs ride."""
    _, built, s = pcorpus
    # second key: parity of turn_idx, NULL for turn_idx 5 (null-drop probe)
    attrs = built.doc_stats.select(
        "doc_id",
        "turn_idx",
        F.when(F.col("turn_idx") != 5, F.col("turn_idx") % 2).alias("par"),
    )
    q = "karo"
    matched = set(_scored_map(s.topk_dataframe(q, BIGK)))
    rows = [
        (r["turn_idx"], r["par"])
        for r in attrs.collect()
        if r["doc_id"] in matched
    ]
    counts = Counter((t, p) for t, p in rows if p is not None)
    want_all = sorted(
        ((t, p, c) for (t, p), c in counts.items()),
        key=lambda x: (-x[2], x[0], x[1]),
    )
    got = [
        (r["turn_idx"], r["par"], r["doc_count"])
        for r in s.multi_terms_agg(
            q, attrs, ["turn_idx", "par"], size=5
        ).collect()
    ]
    assert got == want_all[:5]
    # metric sub-agg: avg turn_idx per bucket (trivially the key itself)
    got_m = s.multi_terms_agg(
        q, attrs, ["turn_idx", "par"],
        metrics=[("avg_ti", "avg", "turn_idx")], size=3,
    ).collect()
    for r in got_m:
        assert r["avg_ti"] == pytest.approx(float(r["turn_idx"]))
    assert (
        s.multi_terms_agg("qzxabsent", attrs, ["turn_idx", "par"]).count()
        == 0
    )
    with pytest.raises(ValueError, match=">= 2 key columns"):
        s.multi_terms_agg(q, attrs, ["turn_idx"])
    with pytest.raises(ValueError, match="metric fn"):
        s.multi_terms_agg(
            q, attrs, ["turn_idx", "par"], metrics=[("x", "median", "par")]
        )


def test_bucket_pipeline_stats_sort_selector(spark, pcorpus):
    """ES sibling/bucket pipelines over a parent agg's bucket frame:
    max_bucket (ties = ES keys array), stats_bucket, bucket_sort with
    from/size, bucket_selector."""
    _, built, s = pcorpus
    attrs = built.doc_stats.select("doc_id", "turn_idx")
    q = "karo"
    buckets = s.terms_agg(q, attrs, "turn_idx", size=1_000_000)
    rows = [(r["value"], r["doc_count"]) for r in buckets.collect()]
    assert rows
    mx = max(c for _, c in rows)
    want_keys = sorted(v for v, c in rows if c == mx)
    got_max = s.bucket_stats(
        buckets, "max", metric_col="doc_count", key_col="value"
    ).collect()
    assert [r["key"] for r in got_max] == want_keys
    assert {r["value"] for r in got_max} == {float(mx)}
    # min_bucket ties
    mn = min(c for _, c in rows)
    got_min = s.bucket_stats(
        buckets, "min", metric_col="doc_count", key_col="value"
    ).collect()
    assert [r["key"] for r in got_min] == sorted(
        v for v, c in rows if c == mn
    )
    # avg/sum/stats single-row forms
    counts = [c for _, c in rows]
    assert s.bucket_stats(buckets, "sum").first()["value"] == float(
        sum(counts)
    )
    st = s.bucket_stats(buckets, "stats").first()
    assert (st["count"], st["min"], st["max"], st["sum"]) == (
        len(counts), float(min(counts)), float(max(counts)),
        float(sum(counts)),
    )
    assert st["avg"] == pytest.approx(sum(counts) / len(counts))
    with pytest.raises(ValueError, match="stat must be"):
        s.bucket_stats(buckets, "median")
    # bucket_sort: count desc, key asc, from=2 size=3
    want_sorted = sorted(rows, key=lambda t: (-t[1], t[0]))
    got_sorted = [
        (r["value"], r["doc_count"])
        for r in s.bucket_sort(
            buckets, [("doc_count", "desc"), ("value", "asc")],
            from_=2, size=3,
        ).collect()
    ]
    assert got_sorted == want_sorted[2:5]
    with pytest.raises(ValueError, match="direction"):
        s.bucket_sort(buckets, [("doc_count", "down")])
    with pytest.raises(ValueError, match="at least one"):
        s.bucket_sort(buckets, [])
    # bucket_selector: predicate over bucket columns
    want_sel = sorted((v, c) for v, c in rows if c > mn)
    got_sel = sorted(
        (r["value"], r["doc_count"])
        for r in s.bucket_selector(buckets, f"doc_count > {mn}").collect()
    )
    assert got_sel == want_sel


def test_pinned_query(spark, pcorpus):
    """ES pinned query: given ids first in given order (live-checked,
    need not match the query), organic ranking deduped after."""
    _, built, s = pcorpus
    q = "karo"
    organic = [
        r["doc_id"]
        for r in s.topk_dataframe(q, 50).orderBy(
            F.desc("score"), F.asc("doc_id")
        ).collect()
    ]
    all_live = {r["doc_id"] for r in built.doc_stats.collect()}
    non_match = sorted(all_live - set(
        r["doc_id"] for r in s.topk_dataframe(q, BIGK).collect()
    ))[0]
    dead = max(all_live) + 1_000
    pins = [organic[3], non_match, dead, organic[0]]
    got = [
        (r["doc_id"], r["rank"])
        for r in s.topk_pinned(pins, q, k=10).collect()
    ]
    # dead id dropped; pinned order preserved; organic dedups pins
    want_heads = [organic[3], non_match, organic[0]]
    rest = [d for d in organic if d not in pins][: 10 - len(want_heads)]
    assert got == [(d, i + 1) for i, d in enumerate(want_heads + rest)]
    # empty pins = organic ranks
    got0 = [
        (r["doc_id"], r["rank"]) for r in s.topk_pinned([], q, k=5).collect()
    ]
    assert got0 == [(d, i + 1) for i, d in enumerate(organic[:5])]
    with pytest.raises(ValueError, match="unique"):
        s.topk_pinned([1, 1], q)


def test_distance_feature_query(spark, pcorpus):
    """ES distance_feature in a bool should: score = BM25 + boost·pivot /
    (pivot + |x − origin|); docs missing the feature get +0."""
    _, built, s = pcorpus
    # NULL the feature for turn_idx 0 docs (missing-field probe)
    attrs = built.doc_stats.select(
        "doc_id",
        F.when(F.col("turn_idx") != 0, F.col("turn_idx")).alias("ti"),
    )
    q = "karo"
    base = _scored_map(s.topk_dataframe(q, BIGK))
    tv = {r["doc_id"]: r["ti"] for r in attrs.collect()}
    origin, pivot, boost = 2.0, 3.0, 0.7

    def contrib(d):
        x = tv[d]
        return 0.0 if x is None else boost * pivot / (pivot + abs(x - origin))

    want = sorted(
        ((d, v + contrib(d)) for d, v in base.items()),
        key=lambda t: (-t[1], t[0]),
    )[:10]
    got = [
        (r["doc_id"], r["score"])
        for r in s.topk_distance_feature(
            q, attrs, "ti", origin=origin, pivot=pivot, k=10, boost=boost
        ).collect()
    ]
    assert [(d, round(v, 9)) for d, v in got] == [
        (d, round(v, 9)) for d, v in want
    ]
    with pytest.raises(ValueError, match="pivot"):
        s.topk_distance_feature(q, attrs, "ti", origin=0, pivot=0)
    with pytest.raises(ValueError, match="boost"):
        s.topk_distance_feature(q, attrs, "ti", origin=0, pivot=1, boost=-1)
    assert s.topk_distance_feature(
        "qzxabsent", attrs, "ti", origin=0, pivot=1
    ).count() == 0


def test_rank_feature_query(spark, pcorpus):
    """ES rank_feature standalone: rank live docs by a positive static
    feature through saturation / log / sigmoid; docs missing the feature
    don't match; non-positive values fail the job."""
    import math

    _, built, s = pcorpus
    # positive feature; NULL for turn_idx 3 (no-match probe)
    attrs = built.doc_stats.select(
        "doc_id",
        F.when(F.col("turn_idx") != 3, F.col("turn_idx") + 1).alias("pop"),
    )
    feats = {
        r["doc_id"]: r["pop"] for r in attrs.collect()
        if r["pop"] is not None
    }

    def top(score_fn, k=10):
        return sorted(
            ((d, score_fn(x)) for d, x in feats.items()),
            key=lambda t: (-t[1], t[0]),
        )[:k]

    def got(df):
        return [(r["doc_id"], round(r["score"], 9)) for r in df.collect()]

    def rnd(want):
        return [(d, round(v, 9)) for d, v in want]

    # saturation, explicit pivot
    assert got(
        s.topk_rank_feature(attrs, "pop", k=10, pivot=2.5, boost=1.5)
    ) == rnd(top(lambda x: 1.5 * x / (x + 2.5)))
    # saturation, default pivot = exact geometric mean
    gm = math.exp(sum(math.log(x) for x in feats.values()) / len(feats))
    assert got(s.topk_rank_feature(attrs, "pop", k=10)) == rnd(
        top(lambda x: x / (x + gm))
    )
    # log
    assert got(
        s.topk_rank_feature(
            attrs, "pop", k=10, function="log", scaling_factor=0.5
        )
    ) == rnd(top(lambda x: math.log1p(0.5 * x)))
    # sigmoid
    assert got(
        s.topk_rank_feature(
            attrs, "pop", k=10, function="sigmoid", pivot=3.0, exponent=0.6
        )
    ) == rnd(top(lambda x: x**0.6 / (x**0.6 + 3.0**0.6)))
    # validation
    with pytest.raises(ValueError, match="function"):
        s.topk_rank_feature(attrs, "pop", function="linear")
    with pytest.raises(ValueError, match="sigmoid needs"):
        s.topk_rank_feature(attrs, "pop", function="sigmoid")
    with pytest.raises(ValueError, match="boost"):
        s.topk_rank_feature(attrs, "pop", boost=-1)
    with pytest.raises(ValueError, match="scaling_factor"):
        s.topk_rank_feature(attrs, "pop", function="log", scaling_factor=0)
    # non-positive feature values fail the scoring job (contract check
    # rides the scan — turn_idx itself contains 0)
    bad = built.doc_stats.select("doc_id", F.col("turn_idx").alias("pop"))
    with pytest.raises(Exception, match="must be > 0"):
        s.topk_rank_feature(bad, "pop", pivot=1.0).collect()


def test_analyze_api(spark, pcorpus):
    """ES _analyze: tokens + positions + ORIGINAL-text offsets for a
    request-supplied string, per the Searcher's analyzer."""
    _, _, s = pcorpus
    txt = "Hello, can't STOP 3.14 café zephyr"
    rows = s.analyze(txt).collect()
    assert [r["token"] for r in rows] == py_tokenize(txt)
    for r in rows:
        assert txt[r["start_offset"]:r["end_offset"]].lower() == r["token"]
    assert [r["position"] for r in rows] == list(range(len(rows)))
    assert s.analyze("").count() == 0
    assert s.analyze("...!?").count() == 0


def test_scroll_tiles_full_ranking(spark, pcorpus):
    """ES scroll: driver-paced page iteration over the search_after
    cursor exactly tiles the full (score desc, doc_id asc) ranking."""
    _, _, s = pcorpus
    full = [
        (r["doc_id"], round(r["score"], 9))
        for r in s.topk_dataframe("karo", BIGK)
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .collect()
    ]
    pages = list(s.scroll("karo", page_size=7))
    got = [
        (r["doc_id"], round(r["score"], 9)) for pg in pages for r in pg
    ]
    assert got == full
    assert all(len(pg) == 7 for pg in pages[:-1])
    assert 1 <= len(pages[-1]) <= 7
    assert list(s.scroll("qzxabsent")) == []
    with pytest.raises(ValueError, match="page_size"):
        next(s.scroll("karo", page_size=0))


def test_suggest_phrase_stupid_backoff(spark, pcorpus):
    """ES phrase suggester: per-position term-suggester candidates,
    whole phrases scored by a stupid-backoff bigram LM from the index's
    own positions; exact python oracle."""
    import itertools
    import math

    pdf, _, s = pcorpus
    toks_per_doc = [py_tokenize(t) for t in pdf["text"]]
    cf = Counter(t for ts in toks_per_doc for t in ts)
    df = Counter(t for ts in toks_per_doc for t in set(ts))
    total = sum(cf.values())
    big = Counter(
        (a, b) for ts in toks_per_doc for a, b in zip(ts, ts[1:])
    )

    def cands(word, max_edits=2, k=5):
        sc = sorted(
            (_lev(t, word), -df[t], t)
            for t in df
            if t != word and _lev(t, word) <= max_edits
        )
        cs = [t for _, _, t in sc[:k]]
        if df[word] > 0:
            cs.append(word)
        return sorted(set(cs))

    query = "zephr karo"  # one misspelled position, one exact
    qt = py_tokenize(query)
    c1, c2 = cands(qt[0]), cands(qt[1])
    assert c1 and c2
    want = []
    for w1, w2 in itertools.product(c1, c2):
        if [w1, w2] == qt:
            continue
        sc = math.log(cf[w1] / total)
        c = big.get((w1, w2), 0)
        sc += (
            math.log(c / cf[w1]) if c > 0
            else math.log(0.4 * cf[w2] / total)
        )
        want.append((f"{w1} {w2}", sc))
    want.sort(key=lambda t: (-t[1], t[0]))
    got = [
        (r["phrase"], r["score"])
        for r in s.suggest_phrase(query, size=5).collect()
    ]
    assert [(p, round(v, 9)) for p, v in got] == [
        (p, round(v, 9)) for p, v in want[:5]
    ]
    # single-token input degenerates to unigram ranking, input excluded
    got1 = [r["phrase"] for r in s.suggest_phrase("karo", size=3).collect()]
    want1 = sorted(
        ((math.log(cf[w] / total), w) for w in cands("karo") if w != "karo"),
        key=lambda t: (-t[0], t[1]),
    )
    assert got1 == [w for _, w in want1[:3]]
    # validation + uncorrectable-position empty path
    with pytest.raises(ValueError, match="1..5"):
        s.suggest_phrase("a b c d e f")
    with pytest.raises(ValueError, match="alpha"):
        s.suggest_phrase("karo", alpha=0)
    assert s.suggest_phrase("qzxqzxqzxnope").count() == 0
