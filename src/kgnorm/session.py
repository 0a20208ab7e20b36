"""SparkSession construction with engine defaults.

Ensures executor Python workers can import ``kgnorm`` (the package lives
under ``src/``; in a real cluster deployment the package ships via
``spark-submit --py-files kgnorm.zip`` — see tools/make_pyfiles.py).
"""

from __future__ import annotations

import os
import sys

from pyspark.sql import SparkSession

SRC_DIR = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# Writer options for the stage and bucketed tables.  Without Hadoop's
# native library, the local file system sets each permission by forking a
# ``chmod`` from the driver JVM: the default, checksummed one forks for
# every directory, data file and ``.crc`` file it creates, so three per
# partition directory of a bucketed table.  The raw local file system
# writes no ``.crc`` files, which leaves two.  The write gets its own
# instance instead of the session's cached one, so nothing else in the
# session changes; both keys act on ``file:`` paths only.
RAW_LOCAL_FS = {
    "fs.file.impl": "org.apache.hadoop.fs.RawLocalFileSystem",
    "fs.file.impl.disable.cache": "true",
}


def hadoop_fs(spark, path_str: str, conf: dict | None = None):
    """(FileSystem, Path) for ``path_str`` resolved through the session's
    Hadoop conf, with ``conf``'s keys set on a copy of it when given —
    works for any warehouse scheme (file://, hdfs://, s3a://), unlike
    driver-local ``os.path`` probes which always say "missing" on a
    remote URI and would silently turn every append into a delta-only
    overwrite (r4 ADVICE)."""
    jvm = spark._jvm
    hconf = spark._jsc.hadoopConfiguration()
    if conf:
        hconf = jvm.org.apache.hadoop.conf.Configuration(hconf)
        for k, v in conf.items():
            hconf.set(k, v)
    hpath = jvm.org.apache.hadoop.fs.Path(path_str)
    return hpath.getFileSystem(hconf), hpath


class conf_override:
    """Scoped ``spark.conf`` override, restored on exit.

    Only affects ACTIONS run inside the block (Spark resolves most SQL
    confs at execution, not plan-build, time) — callers materialize
    eagerly inside the block when the result must keep the override.
    """

    def __init__(self, spark, key: str, value) -> None:
        self.spark, self.key, self.value = spark, key, str(value)

    def __enter__(self):
        self.prev = self.spark.conf.get(self.key)
        self.spark.conf.set(self.key, self.value)

    def __exit__(self, *exc):
        self.spark.conf.set(self.key, self.prev)


def _export_pythonpath() -> None:
    if SRC_DIR not in sys.path:
        sys.path.insert(0, SRC_DIR)
    existing = os.environ.get("PYTHONPATH", "")
    if SRC_DIR not in existing.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            SRC_DIR + (os.pathsep + existing if existing else "")
        )


def _local_dir() -> str:
    """Shuffle/spill directory: prefer tmpfs (/dev/shm) when it exists —
    local-mode shuffle writes are otherwise disk-I/O-bound and cap the
    scaling of shuffle-heavy stages; on a real cluster this maps to
    NVMe-backed local dirs per executor."""
    shm = "/dev/shm/kgnorm-spark"
    if os.path.isdir("/dev/shm"):
        os.makedirs(shm, exist_ok=True)
        return shm
    return "/tmp/kgnorm-spark"


def get_spark(
    app_name: str = "kgnorm",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build a SparkSession with the engine's recommended configuration.

    Defaults are local-mode friendly; on a cluster the same conf applies
    except ``master`` comes from spark-submit.  AQE stays on: it
    re-coalesces small shuffle partitions and splits skewed ones at
    runtime (the 100-TB skew story relies on it plus explicit salting in
    kgnorm.canon).
    """
    _export_pythonpath()
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or str(os.cpu_count() or 4)
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or int(cpus) * 2))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # list partitioned tables of up to 1024 directories on the driver
        # (a 64-bucket read would otherwise launch a listing job); driver
        # listing is sequential, which is slow on high-latency object stores
        .config("spark.sql.sources.parallelPartitionDiscovery.threshold", "1024")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "4096")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.executorEnv.PYTHONPATH", os.environ.get("PYTHONPATH", SRC_DIR))
        .config("spark.driver.memory", os.environ.get("KGNORM_DRIVER_MEM", "20g"))
        # G1 (the JDK17 default) collapses under 32 concurrent task threads
        # with allocation-heavy shuffle/cache stages (measured 34s vs 9s for
        # the same aggregation); throughput-oriented ParallelGC restores
        # linear behavior for batch workloads like this one
        .config("spark.driver.extraJavaOptions", "-XX:+UseParallelGC")
        .config("spark.executor.extraJavaOptions", "-XX:+UseParallelGC")
        .config("spark.local.dir", os.environ.get("KGNORM_LOCAL_DIR", _local_dir()))
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
