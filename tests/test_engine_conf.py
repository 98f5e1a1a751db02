"""The engine's session confs: which checkpoint file manager a master
gets, and that a local session's streaming checkpoint starts no
``readlink`` helper process per file."""

from __future__ import annotations

import os
import shutil
import subprocess
import sys
import textwrap

from apache_beam_spark import engine

_MANAGER = "spark.sql.streaming.checkpointFileManagerClass"


def test_checkpoint_manager_only_on_local_masters():
    for master in ("local", "local[4]", "local[*]"):
        conf = engine.session_conf(master)
        assert conf[_MANAGER].endswith(".FileSystemBasedCheckpointFileManager")
    for master in ("spark://host:7077", "yarn"):
        assert _MANAGER not in engine.session_conf(master)
    for master in ("local[2]", "spark://host:7077"):
        assert engine.session_conf(master)[
            "spark.sql.streaming.stateStore.rocksdb."
            "changelogCheckpointing.enabled"] == "true"


_DRAIN = textwrap.dedent("""
    import sys

    import pandas as pd

    from apache_beam_spark.engine import get_spark
    from apache_beam_spark.streaming import streaming_distinct

    spool, out, ckpt = sys.argv[1:4]
    spark = get_spark("checkpoint-helpers")
    for lo in (0, 3):
        spark.createDataFrame(pd.DataFrame({
            "event_id": range(lo, lo + 5),
            "ts": pd.Timestamp("2024-01-01"),
        })).coalesce(1).write.mode("append").parquet(spool)
    sdf = streaming_distinct(
        spark.readStream.schema("event_id long, ts timestamp")
        .option("maxFilesPerTrigger", 1).parquet(spool),
        ["event_id"], "ts", within="1 hour")
    q = (sdf.writeStream.format("parquet").option("path", out)
         .option("checkpointLocation", ckpt).start())
    q.processAllAvailable()
    q.stop()
    print(spark.read.parquet(out).count())
    spark.stop()
""")


def test_local_checkpoint_runs_no_readlink(tmp_path):
    """Logging ``readlink``/``chmod`` wrappers sit first on the JVM's
    PATH while a local session drains a dedup stream through a
    checkpoint: no ``readlink`` names the checkpoint.  The ``chmod``
    lines (one per file Hadoop's local file system creates) show the
    wrappers were on the JVM's path."""
    bindir = tmp_path / "bin"
    bindir.mkdir()
    log = tmp_path / "helpers.log"
    for tool in ("readlink", "chmod"):
        wrapper = bindir / tool
        wrapper.write_text(
            f'#!/bin/sh\necho "{tool} $*" >> "{log}"\n'
            f'exec {shutil.which(tool)} "$@"\n')
        wrapper.chmod(0o755)

    ckpt = str(tmp_path / "ckpt")
    env = {**os.environ,
           "PATH": f"{bindir}{os.pathsep}{os.environ['PATH']}",
           "SPARK_GRAFT_CPUS": "2"}
    run = subprocess.run(
        [sys.executable, "-c", _DRAIN, str(tmp_path / "spool"),
         str(tmp_path / "out"), ckpt],
        env=env, cwd=engine.CHECKOUT, capture_output=True, text=True,
        timeout=300)
    assert run.returncode == 0, run.stderr[-3000:]
    assert run.stdout.split()[-1] == "8"

    lines = log.read_text().splitlines() if log.exists() else []
    under_ckpt = [ln for ln in lines if ckpt in ln]
    assert any(ln.startswith("chmod ") for ln in under_ckpt), lines[:20]
    assert not [ln for ln in under_ckpt if ln.startswith("readlink ")]
