"""SparkSession construction with scale-appropriate defaults.

Local mode here stands in for a multi-executor cluster; all knobs are
chosen so the same code runs unchanged under ``spark-submit --py-files``
on a real cluster (nothing depends on local mode).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

#: the directory holding the ``llm_scraper_spark`` package
_PACKAGE_PARENT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def default_driver_mem() -> str:
    """Local-mode driver heap when ``SPARK_DRIVER_MEM`` is unset: the
    smaller of 16g and half the host's physical memory, in whole GB,
    at least 1g — a heap the machine can back next to the Python
    workers."""
    phys = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE")
    return f"{max(1, min(16, phys // 2 // 2**30))}g"


def get_spark(
    app_name: str = "llm-scraper-spark",
    cores: int | str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
    cluster: bool = False,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    - AQE on: runtime coalescing + skew-join splitting (hot-host skew).
    - Arrow on: every Python-side transform is an Arrow-batched pandas
      UDF (input_hint forbids per-row Python).
    - shuffle.partitions sized to cores (local) — on a real cluster this
      is overridden per deployment.  It is an upper bound: AQE
      coalesces the partitions of every join, aggregate, window and
      column-keyed ``repartition(cols)`` exchange to the size of its
      map output.  It never coalesces ``repartition(n, ...)``, which
      pins n partitions.
    - ``canChangeCachedPlanOutputPartitioning`` on (Spark's default is
      off): a persisted frame's plan is then AQE-optimized too.  With
      it off, the frames a crawl round persists (``run_round``'s
      ``gated``/``pre``/``slotted``) keep all shuffle.partitions
      partitions and every stage downstream of them inherits that
      width: a round of a few thousand URLs runs hundreds of
      near-empty tasks and writes one file per partition.
    - ``cluster=True`` is the ``spark-submit`` path: the master comes
      from ``--master`` (code must NOT set one — a code-side master
      silently overrides the submit flag), and driver memory / GC
      options come from ``spark-submit --conf`` / ``--driver-memory``
      (setting driver JVM options after the JVM is already up is a
      no-op at best).  Used by scripts/submit_crawl.py.
    """
    if cores is None:
        cores = os.environ.get("SPARK_GRAFT_CPUS", "32")
    cores = str(cores)
    n_cores = int(cores) if cores.isdigit() else 32
    if shuffle_partitions is None:
        shuffle_partitions = max(n_cores, 32)

    builder = SparkSession.builder
    if not cluster:
        builder = builder.master(f"local[{cores}]")
    builder = (
        builder.appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config(
            "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true"
        )
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
    )
    if not cluster:
        builder = (
            builder.config(
                "spark.driver.memory",
                os.environ.get("SPARK_DRIVER_MEM") or default_driver_mem(),
            )
            # the Python workers import this package (UDFs, fetch
            # kernel); a driver script run from outside the repo root
            # has it on sys.path but its workers would not
            .config("spark.executorEnv.PYTHONPATH", _PACKAGE_PARENT)
            # Throughput batch workload → ParallelGC.  G1 (the default)
            # with a large heap was measured entering concurrent-cycle
            # churn on this workload's allocation pattern (Arrow batches +
            # large span arrays): bimodal 100-600 s whole-JVM slowdowns at
            # 10-20x the CPU for identical work.  ParallelGC removed the
            # mode entirely (3770-8436 -> 12k-21k URLs/s at local[8]).
            .config(
                "spark.driver.extraJavaOptions",
                os.environ.get("SPARK_GRAFT_JAVA_OPTS", "-XX:+UseParallelGC"),
            )
            .config(
                "spark.executor.extraJavaOptions",
                os.environ.get("SPARK_GRAFT_JAVA_OPTS", "-XX:+UseParallelGC"),
            )
        )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
