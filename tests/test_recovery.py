"""Checkpoint recovery: a stopped stream restarted from the same
checkpoint resumes with its operator STATE intact — the Spark analogue
of the reference runner's bundle-retry + state-reuse guarantee."""

from __future__ import annotations

import contextlib
import glob
import os

import pandas as pd
import pytest
from pyspark.sql import functions as F

from apache_beam_spark.streaming import streaming_distinct

SCHEMA = "event_id long, ts timestamp, value double"


def _write_batch(spark, spool, ids):
    rows = [{"event_id": i, "ts": pd.Timestamp("2024-01-01 00:00:00"),
             "value": float(i)} for i in ids]
    (spark.createDataFrame(pd.DataFrame(rows))
     .coalesce(1).write.mode("append").parquet(spool))


def _run_once(spark, spool, out, ckpt):
    sdf = streaming_distinct(
        spark.readStream.schema(SCHEMA).option("maxFilesPerTrigger", 1)
        .parquet(spool),
        ["event_id"], "ts", within="1 hour")
    q = (sdf.writeStream.format("parquet")
         .option("path", out).option("checkpointLocation", ckpt)
         .outputMode("append").start())
    q.processAllAvailable()
    q.stop()


def test_streaming_distinct_survives_restart(spark, tmp_path):
    spool = str(tmp_path / "spool")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    _write_batch(spark, spool, [1, 2, 3, 4, 5])
    _run_once(spark, spool, out, ckpt)

    # second run, SAME checkpoint: 3,4,5 are duplicates the restored
    # dedup state must suppress; 6,7,8 are new
    _write_batch(spark, spool, [3, 4, 5, 6, 7, 8])
    _run_once(spark, spool, out, ckpt)

    got = sorted(r["event_id"] for r in spark.read.parquet(out).collect())
    assert got == [1, 2, 3, 4, 5, 6, 7, 8]


#: the two checkpoint confs the engine sets over Spark's defaults
_CHECKPOINT_CONFS = (
    "spark.sql.streaming.checkpointFileManagerClass",
    "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled",
)


@contextlib.contextmanager
def _spark_defaults(spark):
    """Run the block under Spark's own checkpoint file manager and
    RocksDB commit format, then restore the engine's."""
    saved = {k: spark.conf.get(k, None) for k in _CHECKPOINT_CONFS}
    try:
        for k in _CHECKPOINT_CONFS:
            spark.conf.unset(k)
        yield
    finally:
        for k, v in saved.items():
            if v is not None:
                spark.conf.set(k, v)


def _changelogs(ckpt):
    return glob.glob(os.path.join(ckpt, "state", "**", "*.changelog"),
                     recursive=True)


@pytest.mark.parametrize("defaults_first", [True, False],
                         ids=["spark_then_engine", "engine_then_spark"])
def test_checkpoint_resumes_across_engine_confs(spark, tmp_path,
                                                defaults_first):
    """A dedup checkpoint written under Spark's default checkpoint confs
    resumes under the engine's (FileSystem checkpoint manager, RocksDB
    changelog commits) with its state intact, and the reverse."""
    spool = str(tmp_path / "spool")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    first = _spark_defaults(spark) if defaults_first else contextlib.nullcontext()
    second = contextlib.nullcontext() if defaults_first else _spark_defaults(spark)

    _write_batch(spark, spool, [1, 2, 3, 4, 5])
    with first:
        _run_once(spark, spool, out, ckpt)
    # the first run really wrote its state in its own commit format
    assert bool(_changelogs(ckpt)) is not defaults_first

    _write_batch(spark, spool, [3, 4, 5, 6, 7, 8])
    with second:
        _run_once(spark, spool, out, ckpt)

    got = sorted(r["event_id"] for r in spark.read.parquet(out).collect())
    assert got == [1, 2, 3, 4, 5, 6, 7, 8]


def test_restart_does_not_reprocess_consumed_files(spark, tmp_path):
    """The file-source offset log is part of the checkpoint: an
    already-consumed spool file is not re-read on restart (no duplicate
    output rows even for a stateless projection)."""
    spool = str(tmp_path / "spool")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    def run():
        sdf = (spark.readStream.schema(SCHEMA)
               .option("maxFilesPerTrigger", 1).parquet(spool)
               .select("event_id", F.col("value") * 2))
        q = (sdf.writeStream.format("parquet")
             .option("path", out).option("checkpointLocation", ckpt)
             .outputMode("append").start())
        q.processAllAvailable()
        q.stop()

    _write_batch(spark, spool, [1, 2, 3])
    run()
    run()  # restart with nothing new: must emit nothing
    _write_batch(spark, spool, [4])
    run()
    got = sorted(r["event_id"] for r in spark.read.parquet(out).collect())
    assert got == [1, 2, 3, 4]
