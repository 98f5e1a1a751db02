"""Drift-controlled config sweep for the three thinnest streaming
gates (VERDICT r6 finding 2: `stream_funnel` read 47.1-48.3k ev/s in
both judge runs vs the 50k target; `stream_heavy_hitters` and
`stream_rate_limit` were the next thinnest).  Same method as
scripts/stream_join_sweep.py (which took the join gate 47->71k):
interleaved A/B rounds so host-load beats hit every config equally,
per-config min over rounds estimates the quiet-host wall, round 0 is
the uncounted state-store/codegen warm-up.

Usage: python scripts/stream_gate_sweep.py [rounds]
"""

from __future__ import annotations

import json
import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# gate -> list of (label, shuffle_partitions, mft, n_shards)
CONFIGS = {
    "funnel": [
        ("r6 ship", 4, 4, 32),
        ("mft8", 4, 8, 32),
        ("mft8 sh16", 4, 8, 16),
        ("mft8 sh8", 4, 8, 8),
        ("p8 mft8", 8, 8, 32),
        ("sh16", 4, 4, 16),
    ],
    "heavy": [
        ("r6 ship", 4, 4, 16),
        ("mft8", 4, 8, 16),
        ("mft8 sh8", 4, 8, 8),
        ("sh32", 4, 4, 32),
    ],
    "rate": [
        ("r6 ship", 4, 4, 64),
        ("mft8", 4, 8, 64),
        ("mft8 sh32", 4, 8, 32),
        ("sh32", 4, 4, 32),
    ],
}


def main() -> None:
    from apache_beam_spark.engine import get_spark
    from apache_beam_spark.sources.tables import load_table
    from apache_beam_spark.windowing import ensure_event_time

    rounds = int(sys.argv[1]) if len(sys.argv) > 1 else 5
    spark = get_spark("gate-sweep")
    spark.sparkContext.setLogLevel("ERROR")

    events = ensure_event_time(load_table(spark, "events", SF_DIR), "ts")
    n = events.count()
    spool = tempfile.mkdtemp(prefix="gate_sweep_")
    events.repartition(8).write.mode("overwrite").parquet(spool)

    def source(mft):
        return (spark.readStream.schema(events.schema)
                .option("maxFilesPerTrigger", mft).parquet(spool))

    def mk_funnel(mft, shards):
        from apache_beam_spark.streaming import streaming_funnel
        return streaming_funnel(source(mft), ["view", "click", "purchase"],
                                within_ms=24 * 60 * 60_000, n_shards=shards)

    def mk_heavy(mft, shards):
        from apache_beam_spark.streaming import streaming_heavy_hitters
        return streaming_heavy_hitters(
            source(mft), "event_type", window_ms=60 * 60_000,
            capacity=16, min_count=10, n_shards=shards)

    def mk_rate(mft, shards):
        from apache_beam_spark.streaming.stateful import streaming_rate_limit
        return streaming_rate_limit(
            source(mft), key="user_id", event_time="ts",
            id_col="event_id", window_ms=60 * 60_000,
            max_per_window=3, n_shards=shards)

    makers = {"funnel": mk_funnel, "heavy": mk_heavy, "rate": mk_rate}

    def run(gate, parts, mft, shards) -> float:
        spark.conf.set("spark.sql.shuffle.partitions", str(parts))
        q = (makers[gate](mft, shards).writeStream.format("noop")
             .option("checkpointLocation",
                     tempfile.mkdtemp(prefix="gate_ckpt_"))
             .outputMode("append").start())
        t0 = time.time()
        q.processAllAvailable()
        w = time.time() - t0
        q.stop()
        return w

    walls: dict[tuple, float] = {}
    for rnd in range(rounds + 1):
        for gate, cfgs in CONFIGS.items():
            for label, parts, mft, shards in cfgs:
                w = run(gate, parts, mft, shards)
                if rnd == 0:
                    continue
                key = (gate, label)
                walls[key] = min(walls.get(key, w), w)
        print(f"# round {rnd} loadavg {os.getloadavg()[0]:.1f}",
              file=sys.stderr)

    out = {f"{g}/{label}": {"wall": round(w, 3),
                            "events_per_sec": int(n / w)}
           for (g, label), w in walls.items()}
    print(json.dumps({"n_events": n, "rounds": rounds, "gates": out},
                     indent=1))


if __name__ == "__main__":
    main()
