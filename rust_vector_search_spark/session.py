"""SparkSession factory with scale-conscious defaults.

The reference is single-machine, all-in-RAM (``/root/reference/src/lib.rs:15-19``);
this engine targets a multi-executor cluster, so the session defaults lean on
AQE (runtime coalescing + skew-join splitting — random hyperplanes through
duplicate-heavy regions create hot leaves, SURVEY §7.3.4), Arrow for the few
pandas-exchange paths, and a shuffle-partition count sized for local testing
that a real deployment would raise to ~2-3× total cores.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def local_cpus() -> int:
    """The local core count every session default derives from:
    ``SPARK_GRAFT_CPUS`` when set, else the CPUs this process may run
    on (its affinity mask, which a container's cpuset narrows)."""
    raw = os.environ.get("SPARK_GRAFT_CPUS")
    return int(raw) if raw else len(os.sched_getaffinity(0))


def get_spark(
    app_name: str = "rust-vector-search-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build (or fetch) a tuned SparkSession: ``local[n]`` with n
    shuffle partitions, n = ``local_cpus()``, unless given.

    Settings chosen for scale-out behavior, not just local speed:
      - AQE on: runtime partition coalescing, skew-join handling.
      - Arrow on: vectorized exchange for the mapInPandas multimodal path.
      - UTC session timezone: deterministic timestamp semantics vs the
        DuckDB oracle regardless of cluster-node locale.
    """
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{local_cpus()}]")
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions or local_cpus()),
        )
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # NB (r15): a session-wide 64k coalescePartitions.minPartitionSize
        # was measured and REVERTED — it fixed the one genuinely
        # CPU-bound-per-row small shuffle (minhash signatures; handled
        # locally in operators/dedup.py now) but exploded task counts in
        # the iterative rows (pagerank +70%, zorder +50% wall) and left
        # knock-on scheduler/GC pressure in following queries.
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # fixture events.parquet stores TIMESTAMP(NANOS); read as raw int64
        # nanos (converted to micros in sources.fixtures.load_table)
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        # node-table collects for the broadcast-map routing fast path can
        # exceed the 1g default on large leaf-5 indexes
        .config(
            "spark.driver.maxResultSize",
            os.environ.get("SPARK_GRAFT_MAX_RESULT", "2g"),
        )
        .config("spark.ui.enabled", "false")
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def ensure_deterministic_session(spark: SparkSession) -> SparkSession:
    """Pin the runtime-settable SQL confs the oracle comparison relies on.

    The driver hands us ITS session; timestamp-bearing queries must not
    depend on the ambient JVM timezone, and ANSI off keeps permissive
    casts aligned with DuckDB's behavior on the fixture data.
    """
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    try:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    except Exception:
        pass  # static conf on some builds; get_spark sets it at build time
    return spark


def hadoop_path_exists(spark, path: str) -> bool:
    """Existence check through the Hadoop FileSystem API (any supported
    URI scheme), falling back to os.path ONLY for plain local paths on
    JVM-less (Connect) sessions. Used instead of catching read errors:
    a CORRUPT index must fail the batch loudly, never silently read as
    'no history yet' and emit wrong flags. The fallback discipline
    mirrors ``_hadoop_delete_or_raise`` (ADVICE r7, medium): only the
    ABSENCE of the JVM handle selects the fallback — a transient FS /
    py4j error during the probe itself propagates (os.path.exists is
    always False for an s3a/hdfs index, which would silently turn
    'index unreachable' into 'no history yet'), and the fallback
    refuses non-local URIs it cannot actually check."""
    try:
        jvm = spark.sparkContext._jvm
        hconf = spark.sparkContext._jsc.hadoopConfiguration()
    except Exception:
        jvm = None
    if jvm is not None:
        hpath = jvm.org.apache.hadoop.fs.Path(path)
        fs = hpath.getFileSystem(hconf)
        return bool(fs.exists(hpath))
    if "://" in path and not path.startswith("file:"):
        raise RuntimeError(
            f"cannot probe non-local index path {path!r} without a JVM "
            "Hadoop FileSystem handle; refusing to treat it as absent"
        )
    import os

    local = path[len("file:"):] if path.startswith("file:") else path
    return os.path.exists(local)


def collect_garbage(spark) -> None:
    """Python gc, then one JVM ``System.gc()``: Spark's ContextCleaner
    frees the blocks and shuffle files of dropped DataFrames only once
    both runtimes have collected them, so loops that must bound peak
    scratch disk call this between steps. The JVM handle rule is
    ``hadoop_path_exists``': only a missing handle (a Connect session,
    whose cleaner runs on its own) skips the JVM gc; a py4j error from
    the gc call itself propagates."""
    import gc

    gc.collect()
    try:
        jvm = spark.sparkContext._jvm
    except Exception:
        jvm = None
    if jvm is not None:
        jvm.System.gc()
