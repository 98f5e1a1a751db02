"""Per-query profile: each named query cold, then warm, in one session.

Usage: python scripts/qprof.py [-n N] <query> [query ...]

Each query runs to the noop sink inside one scoped_caches() region
(bench.py's methodology): once cold, then N times warm (default 3).
A lineitem fixed-work canary runs before each query; divide walls by
the run's median canary to compare runs on a noisy host.  For every
run it reports the construct seconds (the builder call alone), the
wall, the jobs/stages/tasks the run submitted, the union of their
spans, the driver gap (wall outside any job) and the task CPU, all
read from Spark's status store through perfbench/tracing.py.

SF dir and cores come from SPARK_GRAFT_SF_DIR / SPARK_GRAFT_CPUS.
Prints one JSON line; one line per run goes to stderr.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
sys.path.insert(0, os.path.join(REPO, "perfbench"))

from tracing import (  # noqa: E402
    StatusStoreReader, covered, engine_totals, job_intervals)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def main() -> None:
    args = sys.argv[1:]
    n = 3
    if args and args[0] == "-n":
        n, args = int(args[1]), args[2:]
    from pyspark.sql import functions as F

    import __spark_entry__ as entrymod
    from apache_beam_spark.engine import get_spark
    from apache_beam_spark.plans.caching import scoped_caches

    spark = get_spark("qprof")
    spark.sparkContext.setLogLevel("ERROR")
    queries = entrymod.queries()
    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    reader = StatusStoreReader(spark)

    def canary() -> float:
        t0 = time.time()
        li.groupBy("l_returnflag", "l_linestatus").agg(
            F.sum("l_quantity"), F.avg("l_extendedprice"),
            F.count("*")).collect()
        return round(time.time() - t0, 3)

    def profile(name: str) -> dict:
        reader.read()              # drain what ran before this run
        t0 = time.time()
        df = queries[name](spark, SF_DIR)
        t1 = time.time()
        df.write.format("noop").mode("overwrite").save()
        t2 = time.time()
        read = reader.read()
        totals = engine_totals([read])
        span = covered([(s, e) for s, e, _ in job_intervals([read])],
                       t0, t2)
        return {"construct_s": round(t1 - t0, 3), "wall_s": round(t2 - t0, 3),
                "jobs": int(totals["engine.jobs"]),
                "stages": len(read["stages"]),
                "tasks": int(totals["engine.tasks"]),
                "job_span_s": round(span, 3),
                "driver_gap_s": round(t2 - t0 - span, 3),
                "task_cpu_s": round(totals["engine.task_cpu_s"], 3)}

    out: dict[str, dict] = {}
    canaries = [canary()]
    with scoped_caches():
        for name in args:
            canaries.append(canary())
            cold = profile(name)
            warm = [profile(name) for _ in range(n)]
            out[name] = {"canary_s": canaries[-1], "cold": cold,
                         "warm": warm}
            for tag, run in [("cold", cold)] + [("warm", w) for w in warm]:
                print(f"# {name} {tag}: {run}", file=sys.stderr, flush=True)
    print(json.dumps({"sf_dir": SF_DIR, "n": n, "queries": out,
                      "canaries": canaries,
                      "canary_med": statistics.median(canaries)}))
    spark.stop()


if __name__ == "__main__":
    main()
