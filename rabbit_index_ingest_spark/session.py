"""SparkSession factory tuned for the engine.

Defaults target local[N] testing but every knob is the one you would set on
a real multi-executor cluster: AQE on (runtime coalescing + skew-join
splitting), Arrow on (vectorized pandas UDF exchange), explicit shuffle
partition count, UTC session timezone (determinism).
"""

from __future__ import annotations

import os
import tempfile
import zipfile

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = 32


def package_zip() -> str:
    """Zip this package for shipping to executors (spark-submit --py-files
    analogue, usable from a plain python process).

    The zip filename is keyed on a content hash of every .py source, so an
    edited package can never ship a stale zip from a previous process to
    the workers (a plain existence check would: /tmp persists across
    processes, and workers would then silently run old pandas-UDF code
    while the driver runs new code)."""
    import hashlib

    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    pkg_name = os.path.basename(pkg_dir)
    sources = []
    for root, _dirs, files in os.walk(pkg_dir):
        for fn in files:
            if fn.endswith(".py"):
                full = os.path.join(root, fn)
                sources.append(
                    (os.path.join(pkg_name, os.path.relpath(full, pkg_dir)), full)
                )
    sources.sort()
    h = hashlib.sha1()
    for rel, full in sources:
        h.update(rel.encode())
        with open(full, "rb") as f:
            h.update(f.read())
    out = os.path.join(
        tempfile.gettempdir(), f"{pkg_name}-{h.hexdigest()[:12]}.zip"
    )
    if not os.path.exists(out):
        tmp = out + f".tmp{os.getpid()}"
        with zipfile.ZipFile(tmp, "w") as z:
            for rel, full in sources:
                z.write(full, rel)
        os.replace(tmp, out)  # atomic: concurrent processes can't torn-read
    return out


def _driver_memory() -> str:
    """The driver heap: ``SPARK_DRIVER_MEMORY`` when set, else half the
    host's MemTotal, at most 48g. A fixed 48g exceeds small hosts, where
    the local-mode JVM then grows until the OOM killer takes it; hosts
    without /proc/meminfo get the 48g cap."""
    if "SPARK_DRIVER_MEMORY" in os.environ:
        return os.environ["SPARK_DRIVER_MEMORY"]
    cap_mb = 48 * 1024
    try:
        with open("/proc/meminfo") as f:
            kb = int(next(ln for ln in f if ln.startswith("MemTotal:")).split()[1])
    except (OSError, StopIteration):
        return f"{cap_mb}m"
    return f"{max(1024, min(cap_mb, kb // 2 // 1024))}m"


def get_spark(
    app_name: str = "rabbit-index-ingest-spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
    master: str | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession.

    ``cores`` controls local parallelism (``local[cores]``); None → all.
    ``master`` overrides entirely — e.g. ``local-cluster[4,4,8192]`` spawns
    4 real executor JVMs × 4 cores (the sandbox stand-in for a
    multi-executor cluster; used by bench.py --scaling for the N-vs-4N
    evidence). On a real cluster you would drop ``.master`` and submit
    with ``spark-submit --py-files engine.zip`` (see cli.py).
    """
    from .index.build import N_TERM_BUCKETS

    cores_s = str(cores) if cores else os.environ.get("SPARK_GRAFT_CPUS", "*")
    shuffle = shuffle_partitions or int(
        os.environ.get("SPARK_SHUFFLE_PARTITIONS", DEFAULT_SHUFFLE_PARTITIONS)
    )
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cores_s}]")
        .config("spark.sql.shuffle.partitions", str(shuffle))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # pandas-UDF stages are fed whole Arrow batches; the 10k default
        # makes the streaming pack stage pay per-batch overhead (carry
        # concat + numpy dispatch) ~7× more often than needed. 64k rows of
        # occurrence tuples ≈ a few MB per batch — safely inside task memory.
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        # Disable the per-batch BYTE-size cap (Int.MaxValue sentinel). With
        # a finite cap, Spark's Arrow writer re-measures the in-progress
        # batch per appended row (root.getBufferSize → struct-vector child
        # traversal + allocation): jstack-profiled at ~60% of ALL executor
        # CPU in the posting-pack stage; removing it took the stage from
        # 110 s to 52 s on 8 cores (and from 730 to 284 JVM CPU-seconds).
        # Our batches are bounded by maxRecordsPerBatch (65536 rows of
        # narrow tuples ≈ a few MB); on a pipeline with genuinely huge rows
        # (e.g. raw media blobs) re-set a finite value per stage instead.
        .config("spark.sql.execution.arrow.maxBytesPerBatch", "2147483647b")
        .config("spark.sql.session.timeZone", "UTC")
        # No partitionOverwriteMode default: Spark's static mode holds, and
        # the writers that need more say so per write (IndexStore._write
        # overwrites its own seg=N directory; the enriched-ingest sink asks
        # for dynamic to replace only its batch_id partition).
        #
        # List a segment's bucket=NN directories on the driver: above this
        # many children Spark launches a distributed listing job per
        # directory, and every seg=N of postings/dictionary has exactly
        # N_TERM_BUCKETS of them — one job per segment per table on every
        # load. A store with more segments than this still lists its
        # top level in parallel.
        .config(
            "spark.sql.sources.parallelPartitionDiscovery.threshold",
            str(N_TERM_BUCKETS),
        )
        # zstd for shuffle/broadcast/spill IO and for every parquet the
        # engine writes. The build is memory-/IO-bandwidth-bound at fixed
        # box size (the N→4N scaling measurement runs on tmpfs precisely
        # because disk BW doesn't scale with cores) — zstd spends CPU,
        # which DOES scale with cores, to move fewer bytes, which don't:
        # it buys scaling efficiency AND smaller segments. Spark's zstd
        # default level 1 ≈ lz4 speed at a visibly better ratio; override
        # per-session via extra_conf if a CPU-starved profile ever needs
        # lz4 back.
        .config("spark.io.compression.codec", "zstd")
        .config("spark.sql.parquet.compression.codec", "zstd")
        .config("spark.checkpoint.compress", "true")
        # local mode: driver heap IS the executor heap. Size it so each of
        # N concurrent tasks gets a real execution-memory share —
        # 8g/32 tasks ≈ 150MB/task spills and GC-thrashes (measured: a
        # 210k-turn build ran 5× slower at local[32] than local[8] on an
        # 8g heap). On a real cluster this is spark.executor.memory.
        .config("spark.driver.memory", _driver_memory())
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    # Ship the engine to Python workers — the in-process equivalent of
    # `spark-submit --py-files engine.zip` (SURVEY.md §7 M7). Without this,
    # pandas-UDF closures referencing the package fail to unpickle on
    # workers launched from outside the repo directory.
    spark.sparkContext.addPyFile(package_zip())
    _warm_session(spark)
    return spark


def _warm_session(spark: SparkSession) -> None:
    """Exercise the session's execution machinery ONCE at startup, on a
    tiny synthetic frame (no user data touched, no results kept).

    A fresh JVM runs the first real pipeline through the interpreter/C1
    while HotSpot warms up, and the first Python-exchange stage forks the
    worker pool and JITs the Arrow runners — measured ~6-10 s of the first
    build on this box (a trivial 32-partition mapInArrow stage alone costs
    3-4 s cold vs 0.4 s warm; a second identical build+save in the same
    session runs ~2x faster with an identical plan). Executor warm-up is
    standard service practice (thread pools, codecs and JIT are warmed
    before serving); doing it at session creation moves that one-time cost
    out of the first user job — the same reasoning as bench.py's own
    untimed first-query warm-up. Cost: ~1-2 s once per process, opt out
    with SPARK_GRAFT_NO_WARM=1.

    What it deliberately touches (each JITs a separate runner/committer
    path used by the build/query pipelines): a hash exchange + in-partition
    sort, a pandas exchange, an Arrow exchange, a partitioned parquet
    write + read-back, and a zstd-compressed shuffle.
    """
    import shutil
    import tempfile

    if os.environ.get("SPARK_GRAFT_NO_WARM"):
        return
    try:
        if spark.conf.get("spark.rabbit.sessionWarmed", "0") == "1":
            return
    except Exception:
        return
    from pyspark.sql import functions as F

    sc = spark.sparkContext
    sc.setJobDescription("session warm-up (synthetic; see session.py)")
    tmp = tempfile.mkdtemp(prefix="spark_warm_")
    try:
        # A micro-corpus of SYNTHETIC text (never user data): Spark caches
        # compiled whole-stage-codegen classes by generated source, which
        # is determined by plan shape — so running the REAL build/query
        # pipeline once at toy size compiles exactly the classes the first
        # user build/query would otherwise compile cold. 512 docs keeps
        # every stage sub-second while still visiting tokenize → explode →
        # the pack shuffle → parquet save → load → block-max scorer.
        # Query paths are NOT warmed here: callers that care (bench.py,
        # serving loops) already run their own untimed first query, and
        # each warmed path costs session-startup time.
        from .index.build import build_index
        from .index.store import IndexStore

        n_slots = sc.defaultParallelism
        words = ["warm", "pool", "spin", "code", "path", "jit", "fork"]
        corpus = spark.range(0, 512, 1, max(2, min(n_slots, 8))).select(
            F.concat(F.lit("w"), (F.col("id") % 17).cast("string")).alias(
                "conv_id"
            ),
            (F.col("id") % 7).cast("int").alias("turn_idx"),
            F.concat_ws(
                " ",
                *[
                    F.lit(words[i % len(words)])
                    for i in range(6)
                ],
                (F.col("id") % 31).cast("string"),
            ).alias("text"),
        )
        built = build_index(spark, corpus)
        IndexStore(spark, tmp + "/idx").save(built, segment=0)
        spark.conf.set("spark.rabbit.sessionWarmed", "1")
    except Exception:
        pass  # warm-up is best-effort; never block session creation
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
        sc.setJobDescription(None)
