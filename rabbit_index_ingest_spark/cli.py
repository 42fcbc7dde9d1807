"""CLI entry point (reference A20 — consumer_setup + console_scripts;
SURVEY.md §7 M7).

Run via spark-submit on a cluster:

    spark-submit --py-files $(python -c 'from rabbit_index_ingest_spark.session import package_zip; print(package_zip())') \
        -m rabbit_index_ingest_spark.cli build --input /lake/transcripts --index /lake/idx

or locally: ``python -m rabbit_index_ingest_spark.cli <cmd> ...``.

Subcommands: build [--resume] | upsert | query | suggest [--type
term|completion|phrase] | analyze | delete-by-query | update-by-query |
mget | termvectors | snapshot | restore | merge | compact | stats |
gen-corpus.
"""

from __future__ import annotations

import argparse
import json
import sys

from pyspark.sql import functions as F


def _parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(prog="rabbit-index-ingest-spark")
    p.add_argument("--cores", type=int, default=None, help="local[N] cores")
    p.add_argument("--shuffle-partitions", type=int, default=None)
    sub = p.add_subparsers(dest="cmd", required=True)

    b = sub.add_parser("build", help="build the inverted index")
    b.add_argument("--input", required=True, help="parquet dir of transcript turns")
    b.add_argument("--index", required=True, help="index root directory")
    b.add_argument("--id-col", default="conv_id")
    b.add_argument("--order-col", default="turn_idx")
    b.add_argument("--text-col", default="text")
    b.add_argument("--resume", action="store_true",
                   help="skip stages already marked done in the manifest")
    b.add_argument("--analyzer", choices=["simple", "standard"],
                   default="simple",
                   help="simple = lowercase alnum runs (default); "
                        "standard = additionally joins word-internal "
                        "' \u2019 . (ES standard/UAX#29-leaning: can't, "
                        "3.14 stay one token). Persisted with the index; "
                        "queries follow it automatically")
    b.add_argument("--field", action="append", default=None,
                   metavar="NAME=COLUMN",
                   help="index COLUMN as an ADDITIONAL scored field NAME "
                        "(repeatable) — builds a multi-field index "
                        "(build_index_multifield); --text-col stays the "
                        "default 'text' field, queryable unprefixed")

    u = sub.add_parser("upsert", help="doc_as_upsert a batch of turns")
    u.add_argument("--input", required=True)
    u.add_argument("--index", required=True)

    q = sub.add_parser("query", help="BM25 / phrase / boolean top-k")
    q.add_argument("--index", required=True)
    q.add_argument("--q", required=True)
    q.add_argument("-k", type=int, default=10)
    q.add_argument("--path", choices=["blockmax", "dataframe"], default="blockmax")
    q.add_argument("--mode",
                   choices=["or", "and", "dismax", "multi_match", "phrase",
                            "near", "prefix", "phrase_prefix", "bool_prefix",
                            "fuzzy", "wildcard", "regexp", "query_string",
                            "mlt", "boosting", "terms_set", "span_first"],
                   default="or",
                   help="or = disjunctive BM25 (default); and = ES "
                        "operator:and (doc must contain every term); "
                        "phrase = ES match_phrase over the positional "
                        "postings (see --slop); near = ordered proximity "
                        "(span_near), see --gap / --unordered; prefix = "
                        "ES prefix query (--q is the prefix), see "
                        "--rewrite; phrase_prefix = ES "
                        "match_phrase_prefix (last --q term is a prefix); "
                        "fuzzy = ES fuzzy query (see --fuzziness, "
                        "--rewrite); wildcard = ES wildcard query "
                        "(--q is the * / ? pattern, see --rewrite); "
                        "regexp = ES regexp query (--q is a Lucene-style "
                        "anchored regexp, see --rewrite); query_string = "
                        "ES simple_query_string (--q is the search-bar "
                        "grammar: +required -prohibited \"a phrase\" "
                        "prefix* plain terms; see --default-operator); "
                        "mlt = ES more_like_this (--q is the LIKE text; "
                        "see --max-query-terms)")
    q.add_argument("--default-operator", choices=["or", "and"], default="or",
                   help="query_string mode: bare terms are optional (or, "
                        "the default) or required (and)")
    q.add_argument("--fuzziness", type=int, default=None,
                   help="fuzzy mode: max edit distance (default: ES AUTO "
                        "by term length)")
    q.add_argument("--rewrite", choices=["constant_score", "scoring_boolean"],
                   default="constant_score",
                   help="prefix mode: Lucene multi-term rewrite — "
                        "constant_score (ES default, score 1.0) or "
                        "scoring_boolean (BM25 over the expansion)")
    q.add_argument("--gap", type=int, default=1,
                   help="near mode: max positions between consecutive "
                        "terms (1 = adjacent)")
    q.add_argument("--slop", type=int, default=0,
                   help="phrase mode: ES match_phrase slop (sloppy phrase "
                        "— unordered within the budget, transposition "
                        "costs 2); near mode with --unordered: max slack "
                        "tokens between the span terms")
    q.add_argument("--unordered", action="store_true",
                   help="near mode: ES span_near(in_order=false) — terms "
                        "in any order within --slop slack tokens "
                        "(--gap is ignored)")
    q.add_argument("--min-match", type=str, default=None,
                   help="or mode: ES minimum_should_match — every ES "
                        "spec form: '3', '-2', '75%%', '-25%%', "
                        "conditionals like '2<-25%% 9<-3' (doc must "
                        "match the resolved number of query terms, "
                        "scored over all terms it matches)")
    q.add_argument("--filter", default=None,
                   help="SQL predicate over the docs table (e.g. "
                        "\"turn_idx = 0\") — ES bool-filter analogue; "
                        "restricts ranked docs, never the stats")
    q.add_argument("--tie-breaker", type=float, default=0.0,
                   help="dismax / multi_match best_fields: ES tie_breaker "
                        "in [0,1] — score = best clause + tie_breaker * "
                        "the rest")
    q.add_argument("--fields", default=None, metavar="F=W,F=W",
                   help="multi_match mode: comma-separated scored fields "
                        "with per-field boosts (e.g. title=2,text=1; a "
                        "bare field name means boost 1); requires an "
                        "index built with --field")
    q.add_argument("--mm-type", choices=["best_fields", "most_fields"],
                   default="best_fields",
                   help="multi_match combine: best_fields = dis_max over "
                        "per-field sums (ES default), most_fields = sum")
    q.add_argument("--search-field", default=None,
                   help="phrase mode: run the match_phrase against this "
                        "FIELD of a multi-field index (within-field "
                        "positions, field stats); default: the text field")
    q.add_argument("--boost", action="append", default=None,
                   metavar="TERM=W",
                   help="or mode: ES query-time boost — multiply a "
                        "term clause's score by W (repeatable, e.g. "
                        "--boost spark=2 --boost shuffle=0.5)")
    q.add_argument("--exclude", default=None,
                   help="SQL predicate over the docs table — ES bool "
                        "must_not analogue: docs matching it never rank "
                        "(masked inside the scorer like tombstones); "
                        "composes with --filter")
    q.add_argument("--after", default=None, metavar="SCORE,DOC_ID",
                   help="or mode: ES search_after cursor — the previous "
                        "page's last (unrounded score, doc_id); returns "
                        "the next k docs with exact cursor-aware pruning "
                        "(deep paging without from/size cost)")
    q.add_argument("--max-query-terms", type=int, default=25,
                   help="mlt mode: keep this many highest-tf*idf input "
                        "terms (ES default 25)")
    q.add_argument("--rescore-q", default=None, metavar="PHRASE",
                   help="or mode: ES rescore — re-rank the top --window "
                        "hits by this phrase (score + "
                        "--rescore-weight * phrase_score; non-matching "
                        "window docs keep the base score)")
    q.add_argument("--rescore-weight", type=float, default=1.0)
    q.add_argument("--window", type=int, default=50,
                   help="rescore window size (k must be <= window)")
    q.add_argument("--probe-min-blocks", type=int, default=2048,
                   help="estimated-decode-volume gate for the global "
                        "theta0 seed probe (lower = seed more queries)")
    q.add_argument("--negative-q", default=None,
                   help="boosting mode: the negative (demotion) match "
                        "text — docs matching it keep their rank set but "
                        "score x --negative-boost (ES boosting query)")
    q.add_argument("--negative-boost", type=float, default=0.5,
                   help="boosting mode: multiplier in [0,1] applied to "
                        "negative matches (ES negative_boost)")
    q.add_argument("--msm-field", default=None,
                   help="terms_set mode: docs-table column holding each "
                        "doc's own minimum_should_match (ES "
                        "minimum_should_match_field); --q is the "
                        "space-separated term set")
    q.add_argument("--span-end", type=int, default=10,
                   help="span_first mode: --q must occur within the "
                        "first N token positions (Lucene span.end() <= N)")
    q.add_argument("--explain", default=None, metavar="CONV_ID,TURN_IDX",
                   help="print the per-term score breakdown (ES _explain) "
                        "of one doc for --q instead of running top-k")

    c = sub.add_parser("compact", help="force-merge to one segment, drop tombstones")
    c.add_argument("--index", required=True)

    d = sub.add_parser(
        "delete-by-query",
        help="ES _delete_by_query: tombstone every live doc matching "
             "the query (one distributed tombstone write; stats keep the "
             "deleted docs until merge/compact, the Lucene contract)",
    )
    d.add_argument("--index", required=True)
    d.add_argument("--q", required=True)
    d.add_argument("--mode", choices=["or", "and", "phrase"], default="or")

    ub = sub.add_parser(
        "update-by-query",
        help="ES _update_by_query: re-index every live doc matching the "
             "query with a SQL transform over its content columns "
             "(doc_as_upsert path: new segment + tombstoned old versions)",
    )
    ub.add_argument("--index", required=True)
    ub.add_argument("--q", required=True)
    ub.add_argument(
        "--set", action="append", required=True, metavar="COL=SQL_EXPR",
        help="content column transform, e.g. --set \"text=concat(text, "
             "' flagged')\"; repeatable",
    )
    ub.add_argument("--mode", choices=["or", "and", "phrase"], default="or")

    sn = sub.add_parser(
        "snapshot",
        help="ES _snapshot: point-in-time copy of the immutable segment "
             "tree (the copy is itself a complete store)",
    )
    sn.add_argument("--index", required=True)
    sn.add_argument("--dest", required=True)

    rs = sub.add_parser(
        "restore", help="ES _restore: materialize a snapshot as a live store"
    )
    rs.add_argument("--snapshot", required=True)
    rs.add_argument("--dest", required=True)

    mg = sub.add_parser(
        "mget",
        help="ES _mget: fetch live docs by key; every requested key "
             "answers (found flag, newest version after upserts)",
    )
    mg.add_argument("--index", required=True)
    mg.add_argument(
        "--key", action="append", required=True, metavar="CONV_ID,TURN_IDX",
        help="repeatable document key",
    )

    tv = sub.add_parser(
        "termvectors",
        help="ES _termvectors: per-(term, position) rows of one live doc "
             "with tf/df/ttf (forward-index op; postings never read)",
    )
    tv.add_argument("--index", required=True)
    tv.add_argument("--key", required=True, metavar="CONV_ID,TURN_IDX")

    m = sub.add_parser("merge", help="tiered merge: fold smallest segments")
    m.add_argument("--index", required=True)
    m.add_argument("--max-segments", type=int, default=10,
                   help="merge the smallest segments down to this count")

    sg = sub.add_parser(
        "suggest",
        help="ES suggesters: term (did-you-mean, the default), "
             "completion (prefix autocomplete), phrase (whole-phrase "
             "correction via a stupid-backoff bigram LM from the index's "
             "own positions)",
    )
    sg.add_argument("--index", required=True)
    sg.add_argument("--q", required=True)
    sg.add_argument("--type", choices=["term", "completion", "phrase"],
                    default="term", dest="suggest_type")
    sg.add_argument("--max-edits", type=int, default=2)
    sg.add_argument("--size", type=int, default=5)
    sg.add_argument("--suggest-mode", choices=["missing", "always"],
                    default="missing", help="term suggester only")
    sg.add_argument("--candidates-per-term", type=int, default=5,
                    help="phrase suggester: corrections tried per "
                         "position")

    an = sub.add_parser(
        "analyze",
        help="ES _analyze: how the index's analyzer tokenizes --text "
             "(token, position, start/end offsets)",
    )
    an.add_argument("--index", required=True)
    an.add_argument("--text", required=True)

    st = sub.add_parser(
        "stats",
        help="ES _stats / _cat-indices analogue: segments, live/deleted "
             "doc counts, corpus totals, analyzer, fields, store size",
    )
    st.add_argument("--index", required=True)

    g = sub.add_parser("gen-corpus", help="write a synthetic transcript corpus")
    g.add_argument("--out", required=True)
    g.add_argument("--n-conv", type=int, default=1000)
    return p


def main(argv: list[str] | None = None) -> int:
    args = _parser().parse_args(argv)
    from .session import get_spark

    spark = get_spark(cores=args.cores, shuffle_partitions=args.shuffle_partitions)
    spark.sparkContext.setLogLevel("WARN")

    if args.cmd == "build":
        from .index.build import build_index_multifield
        from .index.store import IndexStore

        transcripts = spark.read.parquet(args.input)
        fields = {"text": args.text_col}
        for spec in args.field or ():
            name, sep, col = spec.partition("=")
            if not sep or not name or not col:
                raise SystemExit(f"--field expects NAME=COLUMN, got {spec!r}")
            fields[name] = col
        built = build_index_multifield(
            spark, transcripts, fields, args.id_col, args.order_col,
            analyzer=args.analyzer,
        )
        store = IndexStore(spark, args.index)
        store.save(built, segment=0, resume=args.resume)
        print(json.dumps({"n_docs": built.n_docs, "avgdl": built.avgdl}))

    elif args.cmd == "upsert":
        from .index.store import IndexStore

        store = IndexStore(spark, args.index)
        seg = store.upsert(spark.read.parquet(args.input))
        print(json.dumps({"segment": seg}))

    elif args.cmd == "query":
        from .index.query import Searcher
        from .index.store import IndexStore

        L = IndexStore(spark, args.index).load()
        # tombstones ride as a DataFrame (cogrouped per doc range in the
        # scorer) — the deleted set never materializes on the driver
        s = Searcher(
            spark, L.postings, L.dictionary, L.n_docs, L.avgdl,
            deleted_df=L.deleted_df,
            probe_min_blocks=args.probe_min_blocks,
            field_stats=L.field_stats,
            analyzer=L.analyzer,
            doc_stats=L.doc_stats,
        )
        allowed = None
        if args.filter:
            allowed = L.docs.where(args.filter).select("doc_id")
        excluded = None
        if args.exclude:
            # ES bool must_not: docs matching the predicate are masked
            # inside the scorers exactly like tombstones
            excluded = L.docs.where(args.exclude).select("doc_id")
        fast = args.path == "blockmax"
        if args.min_match is not None and args.mode not in ("or", "query_string"):
            raise SystemExit(
                "--min-match applies to --mode or / query_string only"
            )
        boosts = None
        if args.boost:
            if args.mode != "or" or args.min_match is not None:
                raise SystemExit("--boost applies to plain --mode or only")
            boosts = {}
            for spec in args.boost:
                t, sep, w = spec.partition("=")
                if not sep:
                    raise SystemExit(f"--boost expects TERM=W, got {spec!r}")
                boosts[t] = float(w)
        if excluded is not None and not fast:
            raise SystemExit("--exclude requires --path blockmax (the "
                             "scorer-masked must_not path)")
        if args.explain is not None:
            # ES _explain: resolve (conv_id, turn_idx) -> internal doc_id,
            # print the per-term breakdown, skip the top-k machinery
            cid, sep, tix = args.explain.rpartition(",")
            if not sep:
                raise SystemExit(
                    f"--explain expects CONV_ID,TURN_IDX, got {args.explain!r}"
                )
            hit = (
                L.doc_stats.where(
                    (F.col("conv_id") == cid)
                    & (F.col("turn_idx") == int(tix))
                )
                .select("doc_id")
                .collect()
            )
            if not hit:
                raise SystemExit(f"no indexed doc {args.explain!r}")
            for r in s.explain(args.q, hit[0]["doc_id"]).collect():
                print(json.dumps({
                    "term": r["term"], "tf": r["tf"], "df": r["df"],
                    "idf": round(r["idf"], 6), "dl": r["dl"],
                    "contribution": round(r["contribution"], 6),
                }))
            return 0
        if args.mode == "prefix":
            top = s.topk_prefix(
                args.q, args.k, rewrite=args.rewrite, allowed=allowed,
                excluded=excluded,
            )
        elif args.mode == "fuzzy":
            top = s.topk_fuzzy(
                args.q, args.k, fuzziness=args.fuzziness,
                rewrite=args.rewrite, allowed=allowed, excluded=excluded,
            )
        elif args.mode == "wildcard":
            top = s.topk_wildcard(
                args.q, args.k, rewrite=args.rewrite, allowed=allowed,
                excluded=excluded,
            )
        elif args.mode == "regexp":
            top = s.topk_regexp(
                args.q, args.k, rewrite=args.rewrite, allowed=allowed,
                excluded=excluded,
            )
        elif args.mode == "phrase_prefix":
            top = s.topk_phrase_prefix(
                args.q, args.k, allowed=allowed, excluded=excluded
            )
        elif args.mode == "bool_prefix":
            # ES match_bool_prefix: last token is a prefix, the rest are
            # term clauses — one BM25 disjunction (search-as-you-type)
            top = s.topk_match_bool_prefix(
                args.q, args.k, allowed=allowed, excluded=excluded
            )
        elif args.mode == "query_string":
            # ES simple_query_string: the search-bar grammar compiles to
            # a bool query; --filter/--exclude compose as one extra
            # allow / deny set
            top = s.topk_query_string(
                args.q, args.k, default_operator=args.default_operator,
                minimum_should_match=args.min_match,
                allowed=allowed, excluded=excluded,
            )
        elif args.mode == "phrase":
            top = s.topk_phrase(
                args.q, args.k, allowed=allowed, slop=args.slop,
                excluded=excluded, field=args.search_field,
            )
        elif args.mode == "near":
            top = (
                s.topk_near_unordered(
                    args.q, args.k, slop=args.slop, allowed=allowed,
                    excluded=excluded,
                )
                if args.unordered
                else s.topk_near(
                    args.q, args.k, gap=args.gap, allowed=allowed,
                    excluded=excluded,
                )
            )
        elif args.mode == "dismax":
            # ES dis_max over the term clauses (Lucene DisjunctionMaxQuery)
            top = (
                s.topk_dismax(
                    args.q, args.k, tie_breaker=args.tie_breaker,
                    allowed=allowed, excluded=excluded,
                )
                if fast
                else s.topk_dismax_dataframe(
                    args.q, args.k, tie_breaker=args.tie_breaker
                )
            )
        elif args.mode == "multi_match":
            # ES multi_match over a multi-field index (--field at build)
            if not args.fields:
                raise SystemExit("--mode multi_match requires --fields")
            fields = {}
            for part in args.fields.split(","):
                f, sep, w = part.partition("=")
                fields[f] = float(w) if sep else 1.0
            if fast:
                top = s.topk_multimatch(
                    args.q, fields, args.k, mode=args.mm_type,
                    tie_breaker=args.tie_breaker, allowed=allowed,
                    excluded=excluded,
                )
            else:
                if allowed is not None or excluded is not None:
                    raise SystemExit(
                        "--filter/--exclude with --mode multi_match "
                        "require --path blockmax"
                    )
                top = s.topk_multimatch_dataframe(
                    args.q, fields, args.k, mode=args.mm_type,
                    tie_breaker=args.tie_breaker,
                )
        elif args.mode == "mlt":
            # ES more_like_this: --q is the LIKE text; its most
            # interesting terms (Lucene tf*idf) run the pruned disjunction
            top = s.topk_more_like_this(
                args.q, args.k, max_query_terms=args.max_query_terms,
                allowed=allowed, excluded=excluded,
            )
        elif args.mode == "boosting":
            # ES boosting query: --q is the positive match, --negative-q
            # demotes (never excludes) by x --negative-boost
            if not args.negative_q:
                raise SystemExit("--mode boosting requires --negative-q")
            top = s.topk_boosting(
                {"match": {"query": args.q}},
                {"match": {"query": args.negative_q}},
                args.negative_boost, k=args.k,
                allowed=allowed, excluded=excluded,
            )
        elif args.mode == "terms_set":
            # ES terms_set: per-doc minimum_should_match read from a
            # docs-table column; --q is the space-separated term set
            if not args.msm_field:
                raise SystemExit("--mode terms_set requires --msm-field")
            if allowed is not None or excluded is not None:
                raise SystemExit(
                    "--filter/--exclude don't compose with --mode "
                    "terms_set yet"
                )
            attrs = L.docs.select("doc_id", args.msm_field)
            top = s.topk_terms_set(
                args.q.split(), attrs, args.msm_field, k=args.k
            )
        elif args.mode == "span_first":
            # ES span_first: --q within the first --span-end positions
            top = s.topk_span_first(
                args.q, args.span_end, args.k,
                allowed=allowed, excluded=excluded,
            )
        elif args.mode == "and":
            # conjunctions run inside the candidate-pruned scorer (ES runs
            # operator:and inside WAND); --path dataframe keeps the
            # decode-everything reference path
            top = (
                s.topk_blockmax_and(
                    args.q, args.k, allowed=allowed, excluded=excluded
                )
                if fast
                else s.topk_and(args.q, args.k, allowed=allowed)
            )
        elif args.min_match is not None:
            # ES minimum_should_match: count-pruned scorer (composes with
            # --filter via the same cogrouped allow side)
            top = (
                s.topk_msm(
                    args.q, args.k, msm=args.min_match, allowed=allowed,
                    excluded=excluded,
                )
                if fast
                else s.topk_msm_dataframe(
                    args.q, args.k, msm=args.min_match, allowed=allowed
                )
            )
        elif args.after is not None:
            if args.mode != "or" or args.min_match is not None or not fast:
                raise SystemExit(
                    "--after applies to plain --mode or on --path blockmax"
                )
            sc_s, _, id_s = args.after.partition(",")
            if not id_s:
                raise SystemExit(f"--after expects SCORE,DOC_ID, got {args.after!r}")
            top = s.search_after(
                args.q, args.k, after=(float(sc_s), int(id_s)),
                allowed=allowed, excluded=excluded, boosts=boosts,
            )
        elif args.rescore_q is not None:
            if args.mode != "or" or not fast:
                raise SystemExit(
                    "--rescore-q applies to plain --mode or on "
                    "--path blockmax"
                )
            top = s.topk_rescore(
                args.q, args.rescore_q, k=args.k, window_size=args.window,
                rescore_query_weight=args.rescore_weight,
                allowed=allowed, excluded=excluded,
            )
        elif allowed is not None or excluded is not None:
            # bool filter / must_not mask at block-decode time on the fast
            # path — blocks with no eligible doc in span skip undecoded
            top = (
                s.topk_blockmax(
                    args.q, args.k, allowed=allowed, excluded=excluded,
                    boosts=boosts,
                )
                if fast
                else s.topk_filtered(args.q, allowed, args.k, boosts=boosts)
            )
        else:
            top = (
                s.topk_blockmax(args.q, args.k, boosts=boosts)
                if fast
                else s.topk_dataframe(args.q, args.k, boosts=boosts)
            )
        rows = (
            top
            .join(L.doc_stats.select("doc_id", "conv_id", "turn_idx"), "doc_id")
            .orderBy(F.desc("score"), F.asc("doc_id"))
            .collect()
        )
        for r in rows:
            print(
                json.dumps(
                    {
                        "conv_id": r["conv_id"],
                        "turn_idx": r["turn_idx"],
                        "score": round(r["score"], 6),
                    }
                )
            )

    elif args.cmd == "suggest":
        from .index.query import Searcher
        from .index.store import IndexStore

        L = IndexStore(spark, args.index).load()
        s = Searcher(
            spark, L.postings, L.dictionary, L.n_docs, L.avgdl,
            deleted_df=L.deleted_df, analyzer=L.analyzer,
        )
        if args.suggest_type == "term":
            for r in s.suggest_term(
                args.q, max_edits=args.max_edits, size=args.size,
                suggest_mode=args.suggest_mode,
            ).collect():
                print(json.dumps(
                    {"term": r["term"], "distance": r["distance"],
                     "df": r["df"]}
                ))
        elif args.suggest_type == "completion":
            for r in s.suggest_completion(args.q, size=args.size).collect():
                print(json.dumps({"term": r["term"], "df": r["df"]}))
        else:
            for r in s.suggest_phrase(
                args.q, size=args.size, max_edits=args.max_edits,
                candidates_per_term=args.candidates_per_term,
            ).collect():
                print(json.dumps(
                    {"phrase": r["phrase"], "score": round(r["score"], 6)}
                ))

    elif args.cmd == "analyze":
        from .index.query import Searcher
        from .index.store import IndexStore

        L = IndexStore(spark, args.index).load()
        s = Searcher(
            spark, L.postings, L.dictionary, L.n_docs, L.avgdl,
            deleted_df=L.deleted_df, analyzer=L.analyzer,
        )
        for r in s.analyze(args.text).collect():
            print(json.dumps(
                {"token": r["token"], "position": r["position"],
                 "start_offset": r["start_offset"],
                 "end_offset": r["end_offset"]}
            ))

    elif args.cmd == "delete-by-query":
        from .index.store import IndexStore

        n = IndexStore(spark, args.index).delete_by_query(
            args.q, mode=args.mode
        )
        print(json.dumps({"deleted": n}))

    elif args.cmd == "update-by-query":
        from .index.store import IndexStore

        set_exprs = {}
        for spec in args.set:
            col, eq, expr = spec.partition("=")
            if not eq or not col or not expr:
                raise SystemExit(
                    f"--set expects COL=SQL_EXPR, got {spec!r}"
                )
            set_exprs[col] = expr
        n = IndexStore(spark, args.index).update_by_query(
            args.q, set_exprs, mode=args.mode
        )
        print(json.dumps({"updated": n}))

    elif args.cmd == "snapshot":
        from .index.store import IndexStore

        info = IndexStore(spark, args.index).snapshot(args.dest)
        print(json.dumps(info))

    elif args.cmd == "restore":
        from .index.store import IndexStore

        IndexStore.restore(spark, args.snapshot, args.dest)
        print(json.dumps({"restored": args.dest}))

    elif args.cmd == "mget":
        from .index.store import IndexStore

        keys = []
        for spec in args.key:
            c, _, i = spec.rpartition(",")
            if not c:
                raise SystemExit(f"--key expects CONV_ID,TURN_IDX, got {spec!r}")
            keys.append((c, int(i)))
        for r in IndexStore(spark, args.index).mget(keys).collect():
            print(json.dumps(r.asDict()))

    elif args.cmd == "termvectors":
        from .index.store import IndexStore

        c, _, i = args.key.rpartition(",")
        if not c:
            raise SystemExit(f"--key expects CONV_ID,TURN_IDX, got {args.key!r}")
        for r in IndexStore(spark, args.index).term_vectors(c, int(i)).collect():
            print(json.dumps(r.asDict()))

    elif args.cmd == "compact":
        from .index.store import IndexStore

        IndexStore(spark, args.index).compact()
        print(json.dumps({"compacted": True}))

    elif args.cmd == "stats":
        from .index.store import IndexStore

        print(json.dumps(IndexStore(spark, args.index).stats()))

    elif args.cmd == "merge":
        from .index.store import IndexStore

        store = IndexStore(spark, args.index)
        new_seg = store.maybe_merge(max_segments=args.max_segments)
        print(json.dumps({"merged_into": new_seg, "segments": store.segments()}))

    elif args.cmd == "gen-corpus":
        from .datagen import transcripts_df

        transcripts_df(spark, n_conv=args.n_conv).write.mode("overwrite").parquet(
            args.out
        )
        print(json.dumps({"written": args.out}))

    return 0


if __name__ == "__main__":
    sys.exit(main())
