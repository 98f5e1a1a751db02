"""Unbounded sources.

Reference inventory (SURVEY.md §2.11):
  ``GenerateSequence.withRate`` (io/GenerateSequence.java:125) -> rate source
  ``TextIO.watchForNewFiles`` (io/TextIO.java:66-108) -> file stream source
  ``KafkaIO`` (io/kafka/.../KafkaIO.java:241) -> format("kafka")
  ``TestStream`` (testing/TestStream.java:52) -> file-spool harness below

The file stream source subsumes the reference's ``Watch.growthOf`` SDF
machinery (transforms/Watch.java:115): Spark's micro-batch planner owns
discovery, splitting, and checkpointing.
"""

from __future__ import annotations

import json
import os
from typing import Optional

from pyspark.sql import DataFrame, SparkSession


def rate_stream(spark: SparkSession, rows_per_second: int = 1000,
                num_partitions: Optional[int] = None) -> DataFrame:
    """reference io/GenerateSequence.java:125 withRate — columns
    (timestamp, value)."""
    r = spark.readStream.format("rate").option("rowsPerSecond", rows_per_second)
    if num_partitions is not None:
        r = r.option("numPartitions", num_partitions)
    return r.load()


def file_stream(spark: SparkSession, path: str, format: str = "parquet",
                schema=None, max_files_per_trigger: Optional[int] = None,
                **options) -> DataFrame:
    """Watch-for-new-files read (reference io/TextIO.java:66-108).

    ``max_files_per_trigger`` bounds micro-batch size — the same rate
    control the reference implemented in MicrobatchSource.java.
    """
    r = spark.readStream.format(format).options(**options)
    if schema is not None:
        r = r.schema(schema)
    if max_files_per_trigger is not None:
        r = r.option("maxFilesPerTrigger", max_files_per_trigger)
    if format == "text":
        return r.load(path).withColumnRenamed("value", "line")
    return r.load(path)


def kafka_options(bootstrap_servers: str,
                  topics: Optional[str] = None,
                  topic_pattern: Optional[str] = None,
                  assign: Optional[dict] = None,
                  starting_offsets: str = "latest",
                  ending_offsets: Optional[str] = None,
                  starting_timestamp_ms: Optional[int] = None,
                  max_offsets_per_trigger: Optional[int] = None,
                  fail_on_data_loss: bool = True,
                  group_id_prefix: Optional[str] = None,
                  **consumer_config) -> dict[str, str]:
    """Build the Kafka source option map (pure — no broker needed).

    Mirrors KafkaIO.Read's builder (io/kafka/.../KafkaIO.java:241):
    withTopics / withTopicPartitions (``assign``: {topic: [parts]}) /
    startReadTime (``starting_timestamp_ms``) / withMaxNumRecords-ish
    rate control (``max_offsets_per_trigger``) /
    withConsumerConfigUpdates (prefixed ``kafka.``).  Exactly one of
    ``topics``, ``topic_pattern``, ``assign`` must be given.  Offsets
    checkpointing is Spark's (the reference's KafkaCheckpointMark is
    subsumed by the query checkpoint).
    """
    subscriptions = [x for x in (topics, topic_pattern, assign) if x]
    if len(subscriptions) != 1:
        raise ValueError(
            "exactly one of topics, topic_pattern, assign is required")
    opts: dict[str, str] = {"kafka.bootstrap.servers": bootstrap_servers}
    if topics:
        opts["subscribe"] = topics
    elif topic_pattern:
        opts["subscribePattern"] = topic_pattern
    else:
        opts["assign"] = json.dumps(assign)
    if starting_timestamp_ms is not None:
        opts["startingTimestamp"] = str(starting_timestamp_ms)
    else:
        opts["startingOffsets"] = starting_offsets
    if ending_offsets is not None:  # batch reads only
        opts["endingOffsets"] = ending_offsets
    if max_offsets_per_trigger is not None:
        opts["maxOffsetsPerTrigger"] = str(max_offsets_per_trigger)
    if not fail_on_data_loss:
        opts["failOnDataLoss"] = "false"
    if group_id_prefix:
        opts["groupIdPrefix"] = group_id_prefix
    for k, v in consumer_config.items():
        opts[f"kafka.{k}"] = str(v)
    return opts


def kafka_stream(spark: SparkSession, bootstrap_servers: str,
                 topics: Optional[str] = None, **kwargs) -> DataFrame:
    """KafkaIO unbounded read (reference io/kafka/.../KafkaIO.java:241)
    -> (key binary, value binary, topic, partition, offset, timestamp,
    timestampType).  Decode with ``decode_kafka``.

    Needs the spark-sql-kafka package on the classpath; raises
    NotImplementedError otherwise (not in this container).
    """
    opts = kafka_options(bootstrap_servers, topics=topics, **kwargs)
    try:
        return spark.readStream.format("kafka").options(**opts).load()
    except Exception as e:  # pragma: no cover - package not in container
        raise NotImplementedError(
            "kafka requires org.apache.spark:spark-sql-kafka on the classpath"
        ) from e


def kafka_batch(spark: SparkSession, bootstrap_servers: str,
                topics: Optional[str] = None,
                starting_offsets: str = "earliest",
                ending_offsets: str = "latest", **kwargs) -> DataFrame:
    """Bounded Kafka read (the reference's withMaxNumRecords /
    BoundedReadFromUnboundedSource path): a batch scan between two
    offset ranges."""
    opts = kafka_options(bootstrap_servers, topics=topics,
                         starting_offsets=starting_offsets,
                         ending_offsets=ending_offsets, **kwargs)
    try:
        return spark.read.format("kafka").options(**opts).load()
    except Exception as e:  # pragma: no cover - package not in container
        raise NotImplementedError(
            "kafka requires org.apache.spark:spark-sql-kafka on the classpath"
        ) from e


def decode_kafka(df: DataFrame, value_schema=None,
                 encoding: str = "UTF-8") -> DataFrame:
    """Decode the Kafka wire columns (key/value binary) the way the
    reference's withKeyDeserializer/withValueDeserializer did: to
    strings, or through ``from_json`` when ``value_schema`` is given.
    Works on any DataFrame with the Kafka source's schema — unit-
    testable without a broker."""
    from pyspark.sql import functions as F

    out = df.withColumn("key", F.col("key").cast("string")) \
            .withColumn("value", F.col("value").cast("string"))
    if value_schema is not None:
        out = out.withColumn("value", F.from_json("value", value_schema))
    return out


def read_bounded(sdf: "DataFrame", output_mode: str = "append") -> "DataFrame":
    """BoundedReadFromUnboundedSource (reference
    ``io/BoundedReadFromUnboundedSource.java`` — cap an unbounded source
    and treat it as bounded): run the stream into a memory sink with
    ``trigger(availableNow=True)`` — process everything currently
    available, then stop — and return the materialized result.

    The one bounded drain, and the test-harness twin of the reference's
    ``TestPipeline.run().waitUntilFinish()``.  availableNow honours the
    source's rate limit, so a ``TestStream`` spool (``maxFilesPerTrigger=1``)
    still runs one micro-batch per spooled file and the watermark
    advances between them.  The memory sink keeps the rows in the
    driver, so the result outlives the source files."""
    import uuid as _uuid

    name = f"bounded_{_uuid.uuid4().hex[:12]}"
    w = sdf.writeStream.format("memory").queryName(name).outputMode(output_mode)
    q = w.trigger(availableNow=True).start()
    try:
        q.awaitTermination()
    finally:
        q.stop()
    return sdf.sparkSession.table(name)


class TestStream:
    """Deterministic streaming test input (reference
    ``testing/TestStream.java:52``: addElements:95 / advanceWatermarkTo:143).

    Each ``add_elements`` call spools one JSON file; reading the spool
    directory with ``maxFilesPerTrigger=1`` replays the batches in order
    (file modification times are forced monotone), so the watermark
    advances between micro-batches exactly like the reference's scripted
    ``advanceWatermarkTo`` — Spark derives the next batch's watermark
    from the previous batch's max event time minus the delay.
    """

    __test__ = False  # not a pytest class, despite the name

    def __init__(self, spool_dir: str):
        self.spool_dir = spool_dir
        os.makedirs(spool_dir, exist_ok=True)
        self._n = 0

    def add_elements(self, rows: list[dict]) -> "TestStream":
        """One micro-batch worth of elements (testing/TestStream.java:95)."""
        path = os.path.join(self.spool_dir, f"batch-{self._n:05d}.json")
        with open(path, "w") as f:
            for row in rows:
                f.write(json.dumps(row) + "\n")
        # force monotone mod-times so the source lists batches in order
        t = 1_000_000_000 + self._n
        os.utime(path, (t, t))
        self._n += 1
        return self

    def stream(self, spark: SparkSession, schema) -> DataFrame:
        """The unbounded PCollection: one micro-batch per spooled file."""
        return (spark.readStream.schema(schema)
                .option("maxFilesPerTrigger", 1)
                .json(self.spool_dir))
