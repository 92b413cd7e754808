"""SparkSession factory tuned for the crawl-frontier engine.

Local mode is the sandbox reality (one JVM, N threads); the config is chosen
so the same code runs unchanged on a multi-executor cluster:

- AQE on (runtime coalescing + skew-join backstop for mega-hosts),
- Arrow on (every Python touchpoint is a pandas or Arrow UDF over Arrow
  batches),
- UTC session timezone (DuckDB-oracle comparability; parquet timestamps are
  UTC-naive),
- shuffle partitions sized to cores locally — on a real cluster this should
  be ~2-3x total executor cores, or left to AQE's coalescing.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def get_spark(
    app_name: str = "webscraping_video_pipeline_spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession.

    ``cpus`` controls ``local[N]`` parallelism — the bench harness runs the
    identical job at ``local[8]`` and ``local[32]`` to evidence the N->4N
    scaling-efficiency criterion (BASELINE.md).
    """
    n = cpus or DEFAULT_CPUS
    # Make the package importable inside executor Python workers regardless
    # of the caller's cwd. Local mode: workers inherit PYTHONPATH from the
    # driver env. Cluster mode: ship the package with
    # ``spark-submit --py-files`` (the north_rule invocation) — this env fix
    # is a no-op there.
    repo_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    existing = os.environ.get("PYTHONPATH", "")
    if repo_root not in existing.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            f"{repo_root}{os.pathsep}{existing}" if existing else repo_root
        )
    builder = (
        SparkSession.builder.master(f"local[{n}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or n))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # AQE coalescing targets BYTES; for CPU-dense-per-byte stages a
        # lower floor can widen small-but-hot exchanges (measured: q161's
        # model chain 6.6s -> 4.1s at 64k), BUT a global 64k floor also
        # fragments the frontier round's latency-sensitive exchanges and
        # cost the north metric ~20% in an interleaved A/B (265k -> 209k
        # urls/s median). Default therefore stays Spark's 1m; the knob
        # remains for CPU-bound batch deployments.
        .config(
            "spark.sql.adaptive.coalescePartitions.minPartitionSize",
            os.environ.get("SPARK_GRAFT_AQE_MIN_PARTITION", "1m"),
        )
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "48g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Long-lived sessions (the bench runs 111 queries in one JVM) leak
        # localCheckpoint RDD blocks until a full GC lets ContextCleaner
        # reclaim them; with a 48g heap that GC may never come, so storage
        # fills, later queries inherit the pressure, and per-query times
        # degrade 2-4x (guide §5: unpersist when done — the checkpoint
        # lifetime is owned by the caller here, so periodic GC is the
        # lever). 90s keeps the reclaim latency well under one heavy query.
        .config("spark.cleaner.periodicGC.interval", "90s")
    )
    # GC policy note (r6, measured both ways): System.gc() — called by
    # periodicGC and by bench round hygiene — is a full STW collection
    # under G1; a 1-3s pause that occasionally lands on a sub-second
    # query mid-bench (q30 0.35s isolated vs 1.57s when hit).
    # -XX:+ExplicitGCInvokesConcurrent removes those pauses BUT the
    # concurrent cycle then overlaps the NEXT timed frontier round and
    # cost the north metric 10-30% in an interleaved A/B, so the
    # default stays the JVM default (synchronous explicit GC, which
    # the round loop absorbs in its untimed gap). JVM options are set only
    # on request via SPARK_GRAFT_GC_OPTS (e.g. for query-only batch
    # deployments), so an operator's spark-defaults.conf is not overridden.
    gc_opts = os.environ.get("SPARK_GRAFT_GC_OPTS")
    if gc_opts:
        builder = builder.config("spark.driver.extraJavaOptions", gc_opts)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def stop_spark() -> None:
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
