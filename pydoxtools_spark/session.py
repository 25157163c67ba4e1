"""SparkSession factory with scale-oriented defaults.

Designed for a multi-executor cluster (spark-submit --py-files); in the
sandbox we run local[N].  All settings that matter at 100 TB — AQE,
Arrow batching, shuffle sizing, skew-join splitting — are on by default.

Materialization policy: `checkpoint` and `pin` are the engine's only
materializers (no persist()/cache() anywhere else).  The session's
checkpoint directory decides the mode — set it
(`sparkContext.setCheckpointDir`) for loss-safe execution, where
materialized tables live on reliable storage and survive executor
loss; leave it unset for the single-job form, where an executor loss
restarts the job (the committed snapshot of run_resumable is the
resume point either way).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession


def _reliable(df: DataFrame) -> bool:
    return df.sparkSession.sparkContext.getCheckpointDir() is not None


def checkpoint(df: DataFrame) -> DataFrame:
    """Eager, lineage-truncating materialization of a table consumed
    several times downstream: reliable `checkpoint()` when the session
    has a checkpoint dir, else `localCheckpoint()` (executor-local
    blocks, lineage truncation only)."""
    if _reliable(df):
        return df.checkpoint(eager=True)
    return df.localCheckpoint(eager=True)


def pin(df: DataFrame) -> DataFrame:
    """Materialize a table with several consumers (a fan-out, or the
    rounds of an iterative loop) so its plan runs once.  The engine's
    only cache: no operator calls persist()/cache().

    Single-job mode: a LAZY localCheckpoint — the rows are computed and
    kept by the first action that reads them, and the lineage is cut,
    so every consumer's plan carries an RDD leaf instead of the whole
    upstream subtree (measured ~1.5-2 s off a cold sf0.1
    textrank_summary).  Loss-safe mode: `checkpoint` (eager, reliable
    storage).  Neither form registers a CacheManager entry: the leaf is
    new on each call, so no later read of the same input path can
    plan-match it and be served the earlier call's rows (a persist()
    did exactly that, CLAUDE.md trap 23), and Spark's ContextCleaner
    frees the blocks once the frame is unreachable.  Under AQE the
    lazy form still runs the stages below the plan's exchanges when
    pin() is called; the action then does that much less."""
    if _reliable(df):
        return checkpoint(df)
    return df.localCheckpoint(eager=False)


def width(spark: SparkSession) -> int:
    """Partition count for compute-heavy, byte-light stages (trap 7)."""
    return int(spark.conf.get("spark.sql.shuffle.partitions"))


# Entries of the JVM-wide generated-class cache (Spark's default: 100;
# a static conf, so it is set here, at session build).  A warm extract
# pass generates ~130 classes, so at 100 every pass evicted its own
# classes and recompiled them in Janino (CLAUDE.md trap 22).  The 83
# driver queries generate ~990 more (sf0.001); the cache holds both.
CODEGEN_CACHE_ENTRIES = 2048


def get_spark(
    app_name: str = "pydoxtools-spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cores = cores or int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    shuffle_partitions = shuffle_partitions or max(cores, 8)
    # make the package importable on python workers regardless of the
    # driver's cwd — the local-mode analogue of spark-submit --py-files
    # (on a real cluster, ship a zip of pydoxtools_spark via --py-files)
    pkg_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    pp = os.environ.get("PYTHONPATH", "")
    if pkg_root not in pp.split(os.pathsep):
        os.environ["PYTHONPATH"] = f"{pkg_root}{os.pathsep}{pp}" if pp else pkg_root
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cores}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.codegen.cache.maxEntries",
                str(CODEGEN_CACHE_ENTRIES))
        # The cache is keyed by the generated source, and by default the
        # class name carries the whole-stage codegen stage id, which
        # varies between runs of one plan under AQE: a repeated
        # identical extract write recompiled 20-36 classes whenever the
        # ids moved (CLAUDE.md trap 22).  Off, the same stage compiles
        # once.
        .config("spark.sql.codegen.useIdInClassName", "false")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2048")
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        .config("spark.sql.autoBroadcastJoinThreshold", "64m")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "24g"))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        # Per-op call-site capture (DataFrame debugging) costs 3 extra
        # py4j round-trips + a python stack walk on EVERY DataFrame/
        # Column API call; the big builder functions make thousands
        # (query CONSTRUCTION measured 1.7 s for the pdf queries,
        # ~30-45% of it this wrapper).  Disable it: the trade is
        # call-site lines in analyzer error messages, not semantics.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        # Fork-time preload: the daemon imports numpy/pandas/pyarrow +
        # the parser modules once, every forked worker inherits them
        # copy-on-write instead of re-importing (~1 s/worker; measured
        # ~1 s off a cold blob_routing at sf0.1 and it compounds when
        # concurrent AQE stages fork extra workers).  The module falls
        # back to stock pyspark.daemon behavior if any import fails.
        .config("spark.python.daemon.module",
                "pydoxtools_spark.daemon_preload")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
