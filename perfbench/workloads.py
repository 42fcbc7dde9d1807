"""One benchmark run in one process: set-up, the timed closed loop, checks.

``run.py`` starts this file in a fresh process group and prints the
result; see perfbench/README.md for the workloads and metrics.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.path.insert(0, os.path.dirname(HERE))

import numpy as np  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

import inputs  # noqa: E402
from tracing import Tracer  # noqa: E402
from rabbit_index_ingest_spark import oracle  # noqa: E402
from rabbit_index_ingest_spark.analysis import py_tokenize, tokens_expr  # noqa: E402
from rabbit_index_ingest_spark.index import codec  # noqa: E402
from rabbit_index_ingest_spark.index.build import (  # noqa: E402
    RANGE_BITS, assign_doc_ids_with_count, build_index,
)
from rabbit_index_ingest_spark.index.query import Searcher  # noqa: E402
from rabbit_index_ingest_spark.index.store import IndexStore  # noqa: E402
from rabbit_index_ingest_spark.session import get_spark  # noqa: E402
from rabbit_index_ingest_spark.streaming.ingest import (  # noqa: E402
    read_transcript_stream, start_incremental_index,
)

# long-list queries with precomputed answers: 6 kind cycles, the last 2 for
# warm-up; a run that gets through the first 4 cycles starts over
WARM_CYCLES = 2
QUERY_POOL = 6 * len(inputs.KIND_CYCLE)
MAX_SEGMENTS = 1  # maybe_merge limit in ingest_live: every batch's segment is merged
# Untimed before the timed loop, with WARM_CYCLES of the stream's own shapes:
# the Searcher's term-meta cache then holds every hot term, as in a warm
# server (the AND over all hot terms fetches their metadata and matches few docs).
WARM_QUERIES = [inputs.Query("and", " ".join(inputs.VOCAB[:inputs.HOT_RANKS]), 10)]
QUERY_SPANS = ("index.query.or", "index.query.and", "index.query.phrase")


def run_query(searcher: Searcher, q: inputs.Query, skip_acc=None):
    if q.kind == "or":
        return searcher.topk_blockmax(q.text, q.k, skip_acc=skip_acc).collect()
    if q.kind == "and":
        return searcher.topk_blockmax_and(q.text, q.k, skip_acc=skip_acc).collect()
    return searcher.topk_phrase(q.text, q.k, skip_acc=skip_acc).collect()


def oracle_topk(orc: oracle.OracleIndex, doc_tokens: dict, q: inputs.Query) -> list:
    """BM25 top-k from the pure-Python oracle. AND keeps the docs holding
    every term. A phrase scores as one pseudo-term (the contract of
    ``Searcher.topk_phrase_dataframe``): the idf summed over the phrase's
    positions times tf_norm of the count of consecutive occurrences."""
    if q.kind == "or":
        return orc.topk(q.text, q.k)
    terms = py_tokenize(q.text)
    keys = set.intersection(*(set(orc.postings.get(t, {})) for t in terms))
    if q.kind == "and":
        scores = {key: s for key, s in orc.score(q.text).items() if key in keys}
    else:
        idf, n = sum(orc.idf(t) for t in terms), len(terms)
        first, rest = terms[0], terms[1:]
        scores = {}
        for key in keys:
            toks = doc_tokens[key]
            tf = sum(1 for i, t in enumerate(toks[:len(toks) - n + 1])
                     if t == first and toks[i + 1:i + n] == rest)
            if tf:
                norm = oracle.K1 * (1 - oracle.B + oracle.B * orc.doc_len[key] / orc.avgdl)
                scores[key] = idf * tf * (oracle.K1 + 1.0) / (tf + norm)
    return sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))[: q.k]


def group_cpu_s() -> float:
    """User + system CPU seconds of this process group so far: the driver,
    its Spark JVM and the JVM's Python workers. CPU time a shared host
    steals from the group is not in it, unlike wall time."""
    total, pgrp = 0, os.getpgrp()
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue  # the process ended while we looked
        if int(fields[2]) == pgrp:
            total += int(fields[11]) + int(fields[12])
    return total / os.sysconf("SC_CLK_TCK")


def host_cpu_s() -> tuple[float, float]:
    """(busy, stolen) CPU seconds of this machine's vCPUs so far, summed
    over all of them (/proc/stat): time they ran anything, and time the
    hypervisor kept them from running when they had work."""
    with open("/proc/stat") as f:
        user, nice, system, _, _, irq, softirq, steal = map(int, f.readline().split()[1:9])
    tck = os.sysconf("SC_CLK_TCK")
    return (user + nice + system + irq + softirq) / tck, steal / tck


class OpClock:
    """Times one operation: wall seconds; wall seconds less the hypervisor's
    steal (scaled by the share of the CPU time the machine's vCPUs wanted
    that they got); and CPU seconds of this process group."""

    def __enter__(self):
        self.t0, self.c0, (self.b0, self.s0) = time.perf_counter(), group_cpu_s(), host_cpu_s()
        return self

    def __exit__(self, *exc):
        self.wall = time.perf_counter() - self.t0
        self.cpu = group_cpu_s() - self.c0
        b1, s1 = host_cpu_s()
        self.busy, self.stolen = b1 - self.b0, s1 - self.s0
        wanted = self.busy + self.stolen
        self.nosteal = self.wall * self.busy / wanted if wanted else self.wall


def as_keys(rows, idmap) -> list:
    return [(idmap[r["doc_id"]], round(r["score"], 6)) for r in rows]


def dir_stats(root: str) -> dict:
    """Bytes and file count per table directory of a store."""
    out = {}
    for table in sorted(os.listdir(root)):
        n = b = 0
        for dp, _, files in os.walk(os.path.join(root, table)):
            for f in files:
                n += 1
                b += os.path.getsize(os.path.join(dp, f))
        out[table] = (b, n)
    return out


class Bench:
    def __init__(self, args, spark, tracer: Tracer, session_s: float):
        self.a = args
        self.spark = spark
        self.sc = spark.sparkContext
        self.t = tracer
        self.session_s = session_s
        self.attempted = 0
        self.failed = 0
        # per operation cycle (a search kind cycle, or one live batch): the
        # mean wall, steal-corrected wall and CPU seconds of its operations
        self.op_s: list[float] = []
        self.op_nosteal: list[float] = []
        self.op_cpu: list[float] = []
        self.host = [0.0, 0.0]  # busy and stolen vCPU seconds during timed operations
        self.layer: dict[str, float] = {}
        self.q_stats: list[dict] = []  # traced: per-query input properties
        self.live: dict = {"turns": 0, "reingest": 0, "trigger_s": [], "add_batch_s": [],
                           "merge_s": []}
        self.store = IndexStore(spark, os.path.join(args.work, "index"))
        self.pool = inputs.longlist_queries(args.seed, QUERY_POOL)

    def check(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if self.a.plant_wrong and self.attempted == 1:
            ok = not ok  # the smoke test's planted wrong result
        if not ok:
            self.failed += 1
            print(f"WRONG: {what}", file=sys.stderr)

    def searcher(self, loaded) -> Searcher:
        return Searcher(self.spark, loaded.postings, loaded.dictionary, loaded.n_docs,
                        loaded.avgdl, deleted_df=loaded.deleted_df, analyzer=loaded.analyzer,
                        doc_stats=loaded.doc_stats)

    def trigger(self, req: str) -> tuple[float, float]:
        """One availableNow run of the incremental-index stream over the
        files in the source directory. Returns (wall s, addBatch s)."""
        with self.t.span("streaming.ingest.trigger", req):
            t0 = time.perf_counter()
            sq = start_incremental_index(self.stream, self.store.root,
                                         os.path.join(self.a.work, "ckpt"))
            sq.awaitTermination()
            wall = time.perf_counter() - t0
        add_ms = sum(p["durationMs"].get("addBatch", 0) for p in sq.recentProgress)
        return wall, add_ms / 1000.0

    # ---------------- set-up ----------------
    def setup(self) -> None:
        """Input generation, the base index build + save (search_longlist:
        build_index and IndexStore.save; ingest_live: the stream's first
        trigger, which builds segment 0), load, expected results. The
        caller times it, with the session start, as setup_s."""
        search = self.a.workload == "search_longlist"
        self.pdf = pdf = inputs.corpus(self.a.seed, inputs.SEARCH_CONV if search else inputs.LIVE_CONV)
        if search:
            path = os.path.join(self.a.work, "input.parquet")
            inputs.write_parquet(pdf, path)
            self.df = self.spark.read.parquet(path)
            t1, c1 = time.perf_counter(), group_cpu_s()
            with self.t.span("index.build.build_index", "setup"):
                built = build_index(self.spark, self.df)
            with self.t.span("index.store.save", "setup"):
                self.store.save(built)
                built.release()
            index_s, index_cpu = time.perf_counter() - t1, group_cpu_s() - c1
        else:
            self.src = os.path.join(self.a.work, "stream_src")
            os.makedirs(self.src)
            path = os.path.join(self.src, "batch-00000.parquet")
            inputs.write_parquet(pdf, path)
            self.df = self.spark.read.parquet(path)
            self.stream = read_transcript_stream(self.spark, self.src)
            c1 = group_cpu_s()
            index_s, _ = self.trigger("setup")
            index_cpu = group_cpu_s() - c1
        with self.t.span("index.store.load", "setup"):
            self.loaded = self.store.load()
        with self.t.span("expected", "setup"):
            docs = [((c, int(t)), x) for c, t, x in zip(pdf.conv_id, pdf.turn_idx, pdf.text)]
            self.model = dict(docs)  # ingest_live: the live text per key
            if search:
                self.expected = {}
                self.idmap = {row["doc_id"]: (row["conv_id"], row["turn_idx"])
                              for row in self.loaded.doc_stats.collect()}
                orc = oracle.OracleIndex.build(docs)
                doc_tokens = {key: py_tokenize(x) for key, x in docs}
                for q in self.pool:
                    if q not in self.expected:
                        self.expected[q] = [(key, round(s, 6))
                                            for key, s in oracle_topk(orc, doc_tokens, q)]
        self.index_turns_per_s = len(pdf) / index_s
        self.index_cpu_ms_per_turn = index_cpu / len(pdf) * 1000

    def prepare(self) -> None:
        """Untimed, between set-up and the timed loop: store size, warm-up
        queries, and in traced runs the layer probes."""
        text_bytes = sum(len(x.encode()) for x in self.pdf.text)
        self.bytes_ratio = sum(b for b, _ in dir_stats(self.store.root).values()) / text_bytes
        if self.a.workload == "search_longlist":
            # WARM_QUERIES and WARM_CYCLES untimed cycles of the stream's own
            # shapes (the pool's last), so the first timed cycle is as warm as
            # the next
            self.warm_searcher = self.searcher(self.loaded)
            for q in self.warm_queries():
                run_query(self.warm_searcher, q)
        if self.t.enabled:
            self.blocks = {row["term"]: row["count"] for row in
                           self.loaded.postings.groupBy("term").count().collect()}
            self.trace_build_layers()

    def warm_queries(self) -> list:
        return WARM_QUERIES + self.pool[-WARM_CYCLES * len(inputs.KIND_CYCLE):]

    @staticmethod
    def blocks_of(loaded, terms: list[str]) -> int:
        """Posting blocks of ``terms`` across the index's segments (traced runs)."""
        return loaded.postings.where(F.col("term").isin(terms)).count()

    # ---------------- timed loops ----------------
    def timed(self, clk: OpClock) -> None:
        self.host[0] += clk.busy
        self.host[1] += clk.stolen

    def timed_query(self, searcher, q, req, seen: set, check_with) -> OpClock | None:
        """Run one query under the timer and check it outside. Returns its
        clock, or None if it raised."""
        terms = set(py_tokenize(q.text))
        acc = self.sc.accumulator(0) if self.t.enabled else None
        try:
            with self.t.span(f"index.query.{q.kind}", req), OpClock() as clk:
                rows = run_query(searcher, q, acc)
        except Exception as e:  # an op that raises counts as failed; the loop goes on
            self.check(False, f"{req} {q} raised {e!r}")
            return None
        self.check(check_with(rows), f"{req} {q}")
        if self.t.enabled:
            self.q_stats.append(dict(
                candidate=sum(self.blocks.get(t, 0) for t in terms),
                skipped=acc.value, first_seen=len(terms - seen), terms=len(terms)))
        seen |= terms
        self.timed(clk)
        return clk

    def search_longlist(self, deadline: float) -> None:
        """Whole kind cycles until the deadline. A cycle's mean is one
        sample, so a run of one cycle and a run of two measure the same
        mix of kinds."""
        searcher = self.warm_searcher
        seen = {t for q in self.warm_queries()
                for t in py_tokenize(q.text)}  # the Searcher's term-meta cache
        i = 0
        while time.perf_counter() < deadline:
            cycle = []
            for _ in inputs.KIND_CYCLE:
                q = self.pool[i % len(self.pool)]
                r = self.timed_query(searcher, q, f"q{i}", seen,
                                     lambda rows: as_keys(rows, self.idmap) == self.expected[q])
                if r is not None:
                    cycle.append(r)
                i += 1
            if len(cycle) == len(inputs.KIND_CYCLE):
                self.op_s.append(statistics.mean(c.wall for c in cycle))
                self.op_nosteal.append(statistics.mean(c.nosteal for c in cycle))
                self.op_cpu.append(statistics.mean(c.cpu for c in cycle))

    def ingest_live(self, deadline: float) -> None:
        model, loaded, merged = self.model, self.loaded, False
        b = 0
        while time.perf_counter() < deadline:
            b += 1
            req = f"batch{b}"
            pdf, re_keys = inputs.live_batch(self.a.seed, b, sorted(model))
            tmp = os.path.join(self.a.work, f"batch{b}.parquet.tmp")
            inputs.write_parquet(pdf, tmp)
            os.replace(tmp, os.path.join(self.src, f"batch-{b:05d}.parquet"))
            probe_key = re_keys[0]
            probe = inputs.marker(self.a.seed, b, inputs.BATCH_NEW)  # first re-ingested turn
            acc = self.sc.accumulator(0) if self.t.enabled else None
            try:
                with OpClock() as clk:  # from the moment the file lands
                    trig, add_s = self.trigger(req)
                    with self.t.span("index.store.load", req):
                        loaded = self.store.load()
                    with self.t.span("index.query.or", req):
                        rows = self.searcher(loaded).topk_blockmax(probe, 10, skip_acc=acc).collect()
            except Exception as e:  # the batch counts as failed; the loop goes on
                self.check(False, f"{req} raised {e!r}")
                continue
            self.timed(clk)
            self.op_s.append(clk.wall)
            self.op_nosteal.append(clk.nosteal)
            self.op_cpu.append(clk.cpu)
            self.live["turns"] += len(pdf)
            self.live["reingest"] += len(re_keys)
            self.live["trigger_s"].append(trig)
            self.live["add_batch_s"].append(add_s)
            for c, t, x in zip(pdf.conv_id, pdf.turn_idx, pdf.text):
                model[(c, int(t))] = x
            # on the segmented, tombstoned index the probe ran on: it finds the
            # new version, and every older version of the key is tombstoned
            idmap = {r["doc_id"]: (r["conv_id"], r["turn_idx"]) for r in loaded.doc_stats.collect()}
            versions = {d for d, k in idmap.items() if k == probe_key}
            self.check(len(rows) == 1 and idmap[rows[0]["doc_id"]] == probe_key
                       and versions - loaded.deleted == {rows[0]["doc_id"]}, f"{req} freshness probe")
            if self.t.enabled:
                self.q_stats.append(dict(candidate=self.blocks_of(loaded, [probe]),
                                         skipped=acc.value, first_seen=1, terms=1))
                self.layer["store.segments"] = len(self.store.segments())
                self.layer["store.tombstones"] = len(loaded.deleted)
            # the merge rewrites the files `loaded` reads, so it runs after the checks
            try:
                with self.t.span("index.store.merge", req):
                    t0 = time.perf_counter()
                    merged |= self.store.maybe_merge(MAX_SEGMENTS) >= 0
                    self.live["merge_s"].append(time.perf_counter() - t0)
            except Exception as e:
                self.check(False, f"{req} merge raised {e!r}")
        # the final live set is exactly the model: one live version per key, latest text
        if merged:
            loaded = self.store.load()
        live = loaded.docs.join(loaded.deleted_df, "doc_id", "left_anti") \
            if loaded.deleted_df is not None else loaded.docs
        rows = live.select("conv_id", "turn_idx", "text").collect()
        got = {(r["conv_id"], r["turn_idx"]): r["text"] for r in rows}
        self.check(len(rows) == len(model) and got == model, "final live docs")

    # ---------------- traced-only layer probes ----------------
    def trace_build_layers(self) -> None:
        L = self.layer
        text = self.df.select("conv_id", "turn_idx", "text")
        with self.t.span("analysis.tokenize"):
            t0 = time.perf_counter()
            text.select(tokens_expr("text").alias("t")).write.format("noop").mode("overwrite").save()
            L["analysis.tokenize_s"] = time.perf_counter() - t0
        L["analysis.tokens"] = text.select(F.sum(F.size(tokens_expr("text")))).first()[0]
        with self.t.span("index.build.assign_ids"):
            t0 = time.perf_counter()
            _, _, cached = assign_doc_ids_with_count(text)
            L["build.assign_ids_s"] = time.perf_counter() - t0
            if cached is not None:
                cached.unpersist()
        L["build.blocks"] = sum(self.blocks.values())
        # codec: pack a fixed sample of postings, decode the stored blocks of the hottest terms
        occ = [(tok, i, p, len(toks)) for i, x in enumerate(self.pdf.text.head(400))
               for toks in [py_tokenize(x)] for p, tok in enumerate(toks)]
        occ.sort(key=lambda o: (o[0], o[1] >> RANGE_BITS, o[1], o[2]))
        ids = np.array([o[1] for o in occ], dtype=np.int64)
        args = (np.array([o[0] for o in occ], dtype=object), ids >> RANGE_BITS, ids,
                np.array([o[3] for o in occ]))
        pos = np.array([o[2] for o in occ], dtype=np.int64)
        packed, n_rep, t0 = None, 0, time.perf_counter()
        with self.t.span("index.codec.pack_batch"):
            while n_rep < 3 or time.perf_counter() - t0 < 0.3:
                packed = codec.pack_batch(*args, pos=pos)
                n_rep += 1
        n_post = int(packed["n_docs"].sum())
        L["codec.pack_us_per_posting"] = (time.perf_counter() - t0) / n_rep / n_post * 1e6
        L["codec.bytes_per_posting"] = sum(
            len(v) for c in ("doc_bytes", "tf_bytes", "dl_bytes", "pos_bytes") for v in packed[c]
        ) / n_post
        hot = [inputs.VOCAB[i] for i in range(5)]
        blocks = self.loaded.postings.where(F.col("term").isin(hot)) \
            .select("n_docs", "doc_bytes", "tf_bytes", "dl_bytes").collect()
        nd = np.array([r["n_docs"] for r in blocks], dtype=np.int64)
        streams = [np.frombuffer(b"".join(bytes(r[c]) for r in blocks), dtype=np.uint8)
                   for c in ("doc_bytes", "tf_bytes", "dl_bytes")]
        n_rep, t0 = 0, time.perf_counter()
        with self.t.span("index.codec.decode_blocks_batch"):
            while n_rep < 3 or time.perf_counter() - t0 < 0.3:
                codec.decode_blocks_batch(nd, *streams)
                n_rep += 1
        L["codec.decode_us_per_posting"] = (time.perf_counter() - t0) / n_rep / int(nd.sum()) * 1e6

    def store_layers(self) -> None:
        """Segment, tombstone, file and byte counts of the run's store
        (needs the session, so call before it stops)."""
        stats = dir_stats(self.store.root)
        tomb = self.store.tombstones_df()
        # ingest_live records these at its last probe, before the merge
        self.layer.setdefault("store.segments", len(self.store.segments()))
        self.layer.setdefault("store.tombstones", 0 if tomb is None else tomb.count())
        self.layer["store.files"] = sum(n for _, n in stats.values())
        for table in ("docs", "postings", "dictionary"):
            self.layer[f"store.bytes_{table}"] = stats.get(table, (0, 0))[0]

    def layer_table(self) -> dict:
        """Per-layer metrics (call after Tracer.attach_event_log)."""
        L = dict(self.layer)
        med = lambda xs: statistics.median(xs) if xs else 0.0  # noqa: E731
        setup = lambda name: [s for s in self.t.named(name) if s.request == "setup"]  # noqa: E731
        L["session.start_s"] = self.session_s
        L["wall.setup_s"] = self.setup_clk.wall
        # ingest_live builds its base segment inside the stream's first trigger
        build = setup("index.build.build_index") + setup("index.store.save") \
            + setup("streaming.ingest.trigger")
        L["build.core_s"] = build[0].wall_s
        L["build.jobs"] = sum(len(s.jobs) for s in build)
        L["build.task_s"] = sum(s.task_s for s in build)
        L["build.shuffle_write_mb"] = sum(s.shuffle_write_bytes for s in build) / 1e6
        L["build.spill_mb"] = sum(s.spill_bytes for s in build) / 1e6
        L["store.save_s"] = med([s.wall_s for s in self.t.named("index.store.save")])
        L["store.load_s"] = med([s.wall_s for s in self.t.named("index.store.load")])
        lv = self.live
        L["store.upsert_s"] = med(lv["add_batch_s"])  # the foreachBatch handler is the upsert
        L["store.merge_s"] = med(lv["merge_s"])
        qspans = [s for s in self.t.spans if s.name in QUERY_SPANS]
        n = max(1, len(qspans))
        cand = sum(q["candidate"] for q in self.q_stats)
        skip = sum(q["skipped"] for q in self.q_stats)
        L["query.blocks_candidate"] = cand / max(1, len(self.q_stats))
        L["query.blocks_skipped"] = skip / max(1, len(self.q_stats))
        L["query.skip_ratio"] = skip / cand if cand else 0.0
        L["query.task_s"] = med([s.task_s for s in qspans])
        L["query.tasks"] = sum(s.tasks for s in qspans) / n
        L["query.jobs"] = sum(len(s.jobs) for s in qspans) / n
        L["query.stages"] = sum(s.stages for s in qspans) / n
        L["query.driver_gap_s"] = med([s.driver_gap_s for s in qspans])
        L["query.first_seen_terms"] = sum(q["first_seen"] for q in self.q_stats)
        L["stream.trigger_s"] = med(lv["trigger_s"])
        L["stream.add_batch_s"] = med(lv["add_batch_s"])
        L["stream.overhead_s"] = med([t - a for t, a in zip(lv["trigger_s"], lv["add_batch_s"])])
        busy = sum(lv["trigger_s"]) + sum(lv["merge_s"])
        L["stream.turns_per_s"] = lv["turns"] / busy if busy else 0.0
        L["input.blocks_per_query"] = L["query.blocks_candidate"]
        L["input.first_seen_share"] = (
            L["query.first_seen_terms"] / max(1, sum(q["terms"] for q in self.q_stats)))
        L["input.reingest_share"] = lv["reingest"] / lv["turns"] if lv["turns"] else 0.0
        L["ops_failed_ratio"] = self.failed / max(1, self.attempted)
        L["wall.op_s"] = med(self.op_s)
        L["cpu.op_s"] = med(self.op_cpu)
        L["build.turns_per_s"] = self.index_turns_per_s
        L["build.cpu_ms_per_turn"] = self.index_cpu_ms_per_turn
        L["host.steal_share"] = self.steal_share()
        return L

    def steal_share(self) -> float:
        """Share of the CPU time the machine's vCPUs wanted during the timed
        operations that the hypervisor took."""
        busy, stolen = self.host
        return stolen / (busy + stolen) if busy + stolen else 0.0

    def end_to_end(self) -> dict:
        med = lambda xs: statistics.median(xs) if xs else float("nan")  # noqa: E731
        return {
            "setup_s": self.setup_clk.nosteal,
            "op_nosteal_s": med(self.op_nosteal),
            "index_bytes_per_text_byte": self.bytes_ratio,
        }


def session_conf(work: str, trace: bool) -> dict:
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    }
    if trace:
        os.makedirs(os.path.join(work, "events"))
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.join(work, "events"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return conf


def main(argv=None) -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True, choices=["search_longlist", "ingest_live"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, default=0)
    p.add_argument("--work", required=True)
    p.add_argument("--result", required=True)
    p.add_argument("--plant-wrong", action="store_true")
    a = p.parse_args(argv)
    cores = len(os.sched_getaffinity(0))
    tracer = Tracer(bool(a.trace))
    with OpClock() as setup_clk:
        with tracer.span("session.get_spark", "setup"):
            spark = get_spark(cores=cores, shuffle_partitions=cores,
                              extra_conf=session_conf(a.work, bool(a.trace)))
            spark.sparkContext.setLogLevel("ERROR")
        session_s = time.perf_counter() - setup_clk.t0
        if a.trace:
            tracer.sc = spark.sparkContext
        bench = Bench(a, spark, tracer, session_s)
        bench.setup()
    bench.setup_clk = setup_clk
    bench.prepare()
    start = time.perf_counter()
    getattr(bench, a.workload)(start + a.seconds)
    out = {"attempted": bench.attempted, "failed": bench.failed, "end_to_end": bench.end_to_end(),
           "host": {"cores": cores, "driver_memory": os.environ["SPARK_DRIVER_MEMORY"],
                    "shuffle_partitions": cores, "measured_s": time.perf_counter() - start,
                    "op_s": bench.op_s, "steal_share": bench.steal_share()}}
    if a.trace:
        bench.store_layers()
    spark.stop()
    if a.trace:
        tracer.attach_event_log(os.path.join(a.work, "events"))
        out["per_layer"] = bench.layer_table()
        out["spans"] = tracer.dump()
    with open(a.result, "w") as f:
        json.dump(out, f)
    return 0


if __name__ == "__main__":
    sys.exit(main())
