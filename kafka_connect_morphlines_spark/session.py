"""SparkSession factory tuned for this engine.

Local mode for tests/bench; the same configs are the ones you'd set on a real
cluster (AQE on, Arrow on, UTC session TZ so results compare bit-for-bit with
external oracles).  Parallelism-sensitive knobs scale with the master string.
"""

from __future__ import annotations

import os
import re

from pyspark.sql import SparkSession

_HEAP_CAP_MB = 24 * 1024  # 24g: ~2.5x the bench corpus' live-set high-water


def heap_from_meminfo(meminfo: str) -> str:
    """``min(24g, 0.6 x MemAvailable)`` from the text of ``/proc/meminfo``.

    MemAvailable, not MemTotal: a JVM started while another one is alive
    (the bench-contract test runs ``bench.py`` under the pytest session)
    must fit in what is actually free."""
    kb = int(re.search(r"^MemAvailable:\s+(\d+) kB", meminfo, re.MULTILINE).group(1))
    return f"{min(_HEAP_CAP_MB, kb * 6 // 10 // 1024)}m"


def driver_memory() -> str:
    """The driver heap: ``$SPARK_DRIVER_MEMORY`` if set, else derived from
    the host's available memory (:func:`heap_from_meminfo`)."""
    if os.environ.get("SPARK_DRIVER_MEMORY"):
        return os.environ["SPARK_DRIVER_MEMORY"]
    try:
        with open("/proc/meminfo") as fh:
            return heap_from_meminfo(fh.read())
    except OSError:  # no procfs (not Linux): the cap
        return f"{_HEAP_CAP_MB}m"


def get_spark(
    app_name: str = "kafka_connect_morphlines_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count() or 4
    master = master or f"local[{cpus}]"

    # Python workers import this package by reference (stateful processors,
    # pandas UDF classes are cloudpickled by name) — make sure the package
    # root is on their PYTHONPATH regardless of the caller's cwd.  On a real
    # cluster the equivalent is shipping the wheel via --py-files.
    pkg_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    existing = os.environ.get("PYTHONPATH", "")
    if pkg_root not in existing.split(os.pathsep):
        os.environ["PYTHONPATH"] = f"{pkg_root}{os.pathsep}{existing}" if existing else pkg_root
    if shuffle_partitions is None:
        # local[N] -> ~N shuffle partitions; AQE coalesces further at runtime.
        try:
            n = master.split("[", 1)[1].rstrip("]")
            shuffle_partitions = int(os.cpu_count() or 4) if n == "*" else int(n)
        except (IndexError, ValueError):
            shuffle_partitions = 32

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # Spark 4.x infers parquet timestamp-without-tz as TIMESTAMP_NTZ,
        # which forbids cast-to-long and breaks watermark arithmetic.  The
        # engine's contract is instant semantics in a UTC-pinned session, so
        # keep the 3.5 behavior: read them as TIMESTAMP.
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", driver_memory())
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # RocksDB state store: required by transformWithState and the right
        # choice at scale anyway (state spills to disk instead of executor heap).
        .config(
            "spark.sql.streaming.stateStore.providerClass",
            "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
        )
    )
    if master.startswith("local"):
        # Workers then skip re-reading unchanged pyspark.zip before each
        # task (pyworker.py).  Local only: the PYTHONPATH edit above is
        # what lets the daemon import this package.
        builder = builder.config("spark.python.daemon.module", "kafka_connect_morphlines_spark.pyworker")
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
