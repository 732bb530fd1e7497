"""SparkSession construction tuned for the engine.

Defaults follow the scale posture this engine is designed for: AQE on
(runtime re-planning, skew-join splitting, partition coalescing),
shuffle partitions sized to the parallelism level instead of the
200-partition default, Arrow enabled for every Python<->JVM crossing,
and a UTC session timezone so results are comparable across engines.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

#: local-mode parallelism: ``$SPARK_GRAFT_CPUS``, else the CPUs this
#: process may run on.
DEFAULT_CPUS = int(
    os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0))
)


def get_spark(
    app_name: str = "kaskada-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
    pretouch: bool = False,
) -> SparkSession:
    """Build (or fetch) a SparkSession with engine defaults.

    In local mode one JVM hosts all executor threads, so
    ``spark.driver.memory`` is the only memory knob; on a real cluster
    the same conf applies per executor via spark-submit.

    JVM tuning (measured on this sandbox, see BENCH.md): a dynamically
    growing heap causes kernel page-fault storms in the VM (sys-time
    3x user-time), so benchmarks pass ``pretouch=True`` to fix the heap
    up front; GC worker threads are capped at 8 — the JVM defaults them
    to #cores, and 32 GC threads thrash this VM during young
    collections. On a real multi-executor cluster the same settings
    apply per executor (8-core executors are the sweet spot).

    PySpark's DataFrame debugging
    (``spark.python.sql.dataFrameDebugging.enabled``) is off by default
    here. While it is on, every ``pyspark.sql.functions`` call and
    ``Column`` method walks the Python stack and makes about five extra
    py4j calls to record its call site for error messages (``F.col``
    took 1.3 ms with it and 0.3 ms without, on a 4-vCPU VM). One query
    of the perfbench rotation makes 21-86 such calls, and for a Fenl
    query the recorded sites point inside ``fenl/compiler.py``, not at
    user code. Pass it in ``extra_conf`` to turn it back on. It is a
    static conf, fixed when the session is created, and PySpark reads
    it once per process.
    """
    cpus = DEFAULT_CPUS
    if master is None:
        master = f"local[{cpus}]"
    elif master.startswith("local[") and master != "local[*]":
        try:
            cpus = int(master[len("local[") : -1])
        except ValueError:
            pass
    if shuffle_partitions is None:
        shuffle_partitions = max(cpus, 8)

    driver_mem = os.environ.get("SPARK_DRIVER_MEMORY", "24g")
    jvm_opts = "-XX:+UseParallelGC -XX:ParallelGCThreads=8"
    if pretouch or os.environ.get("KASKADA_SPARK_PRETOUCH"):
        jvm_opts += f" -Xms{driver_mem} -XX:+AlwaysPreTouch"

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.driver.memory", driver_mem)
        .config("spark.driver.extraJavaOptions", jvm_opts)
        .config("spark.sql.files.maxPartitionBytes", "33554432")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.streaming.statefulOperator.checkCorrectness.enabled", "false")
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark() -> None:
    """Stop the active session (needed between parallelism levels in bench)."""
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
    # Spark caches the JVM gateway; a fresh builder after stop() creates a
    # new context with the new master.


#: Session conf that moves every stateful streaming operator onto the
#: RocksDB state store (bundled with Spark; rocksdbjni ships in jars/).
#: The default HDFSBackedStateStoreProvider keeps each partition's state
#: as an in-heap hashmap + full-snapshot checkpoints — fine while state
#: fits executor heaps, but the 100 TB posture for state that scales
#: with the corpus (streaming near-dedup band registries, as-of lookup
#: latches over 10^9 entities) is RocksDB: off-heap + spill-to-disk
#: state bounded by local SSD not heap, incremental (changelog)
#: checkpoints instead of full snapshots, and bounded memory via write
#: buffers. Read at STREAMING QUERY START: set these before .start()
#: (get_spark(extra_conf=ROCKSDB_STATE_CONF), or conf.set per query);
#: running queries keep their provider, and a checkpoint written by one
#: provider must not be resumed under another.
ROCKSDB_STATE_CONF = {
    "spark.sql.streaming.stateStore.providerClass": (
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider"
    ),
    # incremental commits: upload changelog per batch, compact snapshots
    # in the background — turns per-batch checkpoint cost O(state) into
    # O(delta), the difference that matters at TB state
    "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled": (
        "true"
    ),
    # bound RocksDB native memory usage per executor (write buffers +
    # block cache share one cap instead of growing per-partition)
    "spark.sql.streaming.stateStore.rocksdb.boundedMemoryUsage": "true",
}
