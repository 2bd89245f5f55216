"""SparkSession factory with scale-appropriate defaults.

Local mode here (single JVM); on a real cluster the same config block applies
minus master/driver-memory (spark-submit --py-files per BASELINE.json
north_rule). AQE is on so skewed shuffle partitions get split at runtime
(the reference's answer to hot software names was a hard 20k-context cap,
kb_es_indexing.py:21 — we let AQE + explicit salting handle it instead).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

#: SQL defaults of every session the engine creates, shared by
#: :func:`get_spark` and the spark-submit CLI (``cli._get_session``).
#: Callers override any of them through their own conf.
ENGINE_SQL_DEFAULTS: dict[str, str] = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Generated-class cache (static conf, default 100). Three builds,
    # the KB feed and query path and one ingest_increment batch generate
    # 338 distinct classes (CodegenMetrics compile count, no eviction;
    # one build alone 231). An LRU smaller than one build evicts every
    # class before it is reused and each build Janino-compiles its plan
    # again; 2000 leaves >5x headroom for AQE plan variants.
    "spark.sql.codegen.cache.maxEntries": "2000",
    # PySpark's call-site capture for error messages. When on, every
    # DataFrame and ``functions`` call takes extra JVM round trips (the
    # active session, a conf read, set and clear of the Python origin)
    # and walks the Python stack; one pipeline build on the test corpus
    # made 7.3k round trips with it and 4.7k without. The cost: a
    # Spark error no longer names the Python file:line of the Column
    # call that failed. Set it to "true" through ``extra_conf`` or the
    # CLI ``spark`` section to get that back; PySpark reads it once per
    # process.
    "spark.python.sql.dataFrameDebugging.enabled": "false",
}


def get_spark(
    master: str | None = None,
    app_name: str = "softcite_kb_spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, default the
    host's core count). ``shuffle_partitions`` defaults to the local core
    count — at cluster scale you would size this to ~2-3x total executor
    cores instead. Driver memory defaults to a quarter of physical memory
    (``SPARK_DRIVER_MEM`` overrides it).
    """
    cores = str(os.cpu_count() or 1)
    if master is None:
        master = f"local[{os.environ.get('SPARK_GRAFT_CPUS', cores)}]"
    if shuffle_partitions is None:
        n = master[master.find("[") + 1 : master.find("]")] if "[" in master else cores
        shuffle_partitions = int(cores if n == "*" else n)
    driver_mem = os.environ.get("SPARK_DRIVER_MEM") or (
        f"{os.sysconf('SC_PHYS_PAGES') * os.sysconf('SC_PAGE_SIZE') // 4 // 2**20}m")

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config(map=ENGINE_SQL_DEFAULTS)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.driver.memory", driver_mem)
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # local-scale fidelity: the test/bench parquet files are a few MB;
        # the 128 MB default packs each into ONE split and serializes the
        # whole scan on one core. 8 MB splits keep small-file runs parallel;
        # at real cluster scale inputs are many-hundreds-of-files and this
        # only adds harmless extra splits.
        .config("spark.sql.files.maxPartitionBytes", str(8 * 1024 * 1024))
        # ...and ask for at least one split per core even when the input is
        # a single small file (advisory; Spark splits parquet by row group)
        .config("spark.sql.files.minPartitionNum", str(shuffle_partitions))
    )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def stop_spark() -> None:
    """Stop the active session (needed between parallelism levels in bench)."""
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
    # Spark keeps a defaultSession reference; clear it so a new master takes.
    try:  # pragma: no cover - defensive
        SparkSession.builder._options = {}
    except Exception:
        pass
