"""Drift-controlled config sweep for the stream-stream interval join
gate (VERDICT r5 finding 2: driver read 47.3k ev/s vs the 50k target;
needs ~60k so a 20% host swing can't take it under).

Interleaved A/B (the only trustworthy method on this shared host —
SCALING.md r5): each round measures every config once in round-robin
order, so slow host beats hit all configs equally; per-config min over
rounds estimates the quiet-host wall.

Usage: python scripts/stream_join_sweep.py [rounds]
"""

from __future__ import annotations

import json
import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# (shuffle_partitions, spool_files, max_files_per_trigger)
CONFIGS = [
    (8, 8, 4),    # r5 shipped config
    (4, 8, 4),
    (16, 8, 4),
    (8, 8, 8),    # one batch
    (8, 4, 4),    # one batch, fewer files
    (4, 8, 8),
    (2, 8, 8),
    (4, 4, 4),
]


def main() -> None:
    from pyspark.sql import functions as F

    from apache_beam_spark.engine import get_spark
    from apache_beam_spark.sources.tables import load_table
    from apache_beam_spark.windowing import ensure_event_time

    rounds = int(sys.argv[1]) if len(sys.argv) > 1 else 5
    spark = get_spark("sweep")
    spark.sparkContext.setLogLevel("ERROR")

    events = ensure_event_time(load_table(spark, "events", SF_DIR), "ts")
    n = events.count()
    spools: dict[int, str] = {}
    for files in sorted({c[1] for c in CONFIGS}):
        d = tempfile.mkdtemp(prefix=f"sweep_spool_{files}_")
        events.repartition(files).write.mode("overwrite").parquet(d)
        spools[files] = d

    def run_join(parts: int, files: int, mft: int) -> float:
        spark.conf.set("spark.sql.shuffle.partitions", str(parts))

        def source():
            return (spark.readStream.schema(events.schema)
                    .option("maxFilesPerTrigger", mft).parquet(spools[files]))

        p = (source().filter(F.col("event_type") == "purchase")
             .select("user_id", F.col("ts").alias("pts"))
             .withWatermark("pts", "10 minutes"))
        e = (source()
             .select(F.col("user_id").alias("user_id_r"),
                     F.col("ts").alias("ets"), "value")
             .withWatermark("ets", "10 minutes"))
        j = p.join(
            e, (p["user_id"] == e["user_id_r"]) & (e["ets"] >= p["pts"])
            & (e["ets"] <= p["pts"] + F.expr("interval 30 minutes")),
            "inner")
        q = (j.writeStream.format("noop")
             .option("checkpointLocation",
                     tempfile.mkdtemp(prefix="sweep_ckpt_"))
             .outputMode("append").start())
        t0 = time.time()
        q.processAllAvailable()
        wall = time.time() - t0
        q.stop()
        return wall

    # warm-up: state store provider + codegen paths
    run_join(*CONFIGS[0])

    walls: dict[tuple, list[float]] = {c: [] for c in CONFIGS}
    for r in range(rounds):
        la = os.getloadavg()[0]
        for cfg in CONFIGS:
            walls[cfg].append(run_join(*cfg))
        print(f"# round {r}: loadavg {la:.1f} " +
              " ".join(f"{c}={walls[c][-1]:.2f}" for c in CONFIGS),
              file=sys.stderr, flush=True)

    out = []
    for cfg, ws in walls.items():
        best = min(ws)
        out.append({"parts": cfg[0], "files": cfg[1], "mft": cfg[2],
                    "min_wall": round(best, 3),
                    "ev_per_sec": int(2 * n / best),
                    "walls": [round(w, 2) for w in ws]})
    out.sort(key=lambda d: -d["ev_per_sec"])
    print(json.dumps(out, indent=1))
    spark.stop()


if __name__ == "__main__":
    main()
