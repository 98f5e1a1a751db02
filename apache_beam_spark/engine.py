"""SparkSession factory tuned for the engine.

The reference executes pipelines on a hand-built multi-threaded bundle
executor (``runners/direct-java/.../ExecutorServiceParallelExecutor``) or
its own RDD translation (``runners/spark/.../SparkRunner.java:136``).  We
instead hand everything to one tuned SparkSession: AQE for runtime
re-planning + skew handling, Arrow for the Python/pandas boundary, and a
shuffle-partition count sized for the local test harness (on a real
cluster these come from the cluster conf / AQE).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")

# Configs that matter at 100 TB scale and are safe locally:
#  - AQE coalesces post-shuffle partitions and splits skewed ones at
#    runtime, replacing the reference's manual hot-key fanout
#    (transforms/Combine.java:1528) for the join case.
#  - Arrow makes every pandas-UDF boundary batch-columnar instead of
#    row-pickled (the reference serialized per element via Coders —
#    coders/Coder.java:58 — which is exactly the slow path we avoid).
#  - maxPartitionBytes 128m is the parquet-scan split size; at 100 TB
#    that yields ~800k tasks, the right granularity for 1000 executors.
_ENGINE_CONF = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # scale-adaptive, not a constant (optimization r13): follow the
    # harness core count (the driver benches at several core counts),
    # overridable for a real cluster where this should be sized to
    # 100 MB-1 GB post-shuffle partitions (guide §2.2) or left to AQE
    "spark.sql.shuffle.partitions": os.environ.get(
        "SPARK_GRAFT_SHUFFLE_PARTITIONS", DEFAULT_CPUS),
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.files.maxPartitionBytes": "134217728",
    "spark.sql.autoBroadcastJoinThreshold": "64m",
    "spark.sql.session.timeZone": "UTC",
    # 8g measured faster than 32g on this suite (G1 at 32g turns the
    # collect_list/bucket arrays into humongous-object churn: ngram
    # mining 3x slower); override via SPARK_GRAFT_DRIVER_MEM if needed
    "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
    # InferFiltersFromGenerate rewrites explode(arr) into
    # filter(size(arr)>0 AND isnotnull(arr)) + explode and then pushes
    # that filter toward the scan.  Every near-dup/text operator here
    # explodes arrays DERIVED from text (shingles, word tokens, chunk
    # windows, gram hashes), so the inferred filter re-evaluates the
    # whole tokenize/shingle expression chain 2x per row below the
    # exchange the operators fan out on — measured 3x wall on
    # chunk_dedup locally, and at 100 TB it is 2-3 redundant regex
    # passes over every corpus byte fused into the scan stage.  The
    # generate node skips empty arrays by itself; the rule only helps
    # when the exploded array is a cheap stored column, which no hot
    # path here has.  (optimization r13, guide §4.4 duplicated-
    # evaluation pathology in pure-Column form)
    "spark.sql.optimizer.excludedRules": (
        "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate"),
    "spark.ui.enabled": "false",
    "spark.sql.streaming.stateStore.providerClass": (
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
    ),
    # each RocksDB commit writes one changelog file per partition instead
    # of uploading the new SST files and a zip; a snapshot is still made
    # every minDeltasForSnapshot versions and uploaded in the background
    "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled": (
        "true"),
}

# Without the native Hadoop library, Hadoop's local FileContext starts a
# `readlink` process for every checkpoint rename.  On the local file
# system the FileSystem-based manager's rename is POSIX rename(2), just
# as atomic, and starts none.  Other masters keep Spark's default:
# FileContext is what gives HDFS its atomic rename.
_LOCAL_CHECKPOINT_CONF = {
    "spark.sql.streaming.checkpointFileManagerClass": (
        "org.apache.spark.sql.execution.streaming.checkpointing."
        "FileSystemBasedCheckpointFileManager"),
}


#: the checkout holding this package
CHECKOUT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def get_spark(app_name: str = "apache_beam_spark", master: str | None = None) -> SparkSession:
    """Return (building if needed) the engine's SparkSession.

    Puts this package's checkout first on PYTHONPATH before the JVM
    starts, so the Python workers it spawns import the same code as the
    driver when a script runs from outside its checkout (a worker still
    finds its working directory first)."""
    paths = [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    if paths[:1] != [CHECKOUT]:
        os.environ["PYTHONPATH"] = os.pathsep.join([CHECKOUT, *paths])
    master = master or f"local[{DEFAULT_CPUS}]"
    builder = SparkSession.builder.appName(app_name).master(master)
    for k, v in session_conf(master).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def session_conf(master: str) -> dict[str, str]:
    """The confs ``get_spark`` sets for ``master``: the engine's confs,
    plus the local checkpoint file manager on a ``local``/``local[...]``
    master."""
    if master == "local" or master.startswith("local["):
        return {**_ENGINE_CONF, **_LOCAL_CHECKPOINT_CONF}
    return dict(_ENGINE_CONF)


def stop_spark() -> None:
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
