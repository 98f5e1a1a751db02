"""Affine-scaling evidence for the events-window family (VERDICT r5
finding 3): asof_last_purchase read 3.33x at 10x data, funnel_instances
2.15x, feature_store_events 1.99x.  All three are one-keyed-shuffle
window plans that SHOULD be ~linear in events — so the question is
whether the 10x wall is ``a + b*k`` (fixed per-run overhead ``a`` +
linear data term ``b*k``, i.e. healthy) or superlinear.

Method: time each query (min of ``reps``) at k = 1 (sf0.1), 3 and 10
(key-offset replicas, scripts/scale_check.py's builder), fit the
affine model on (1, 10), and report how far the k=3 point sits from
the fit — an affine plan predicts it within noise; a superlinear one
overshoots.  Prints one JSON line for SCALING.md.

Usage: python scripts/asof_scale_profile.py [reps]
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SRC = "/root/testdata/sf0.1"
#: this profile's own workload: the events-window family
QUERIES = ["asof_last_purchase", "funnel_instances", "feature_store_events",
           "user_sessions"]


def main() -> None:
    reps = int(sys.argv[1]) if len(sys.argv) > 1 else 3
    from apache_beam_spark.engine import get_spark
    from apache_beam_spark.plans.caching import scoped_caches
    from scale_check import build_replica

    import __spark_entry__ as entrymod

    spark = get_spark("asof-scale-profile")
    spark.sparkContext.setLogLevel("ERROR")
    dirs = {1: SRC}
    for k in (3, 10):
        dst = f"{REPO}/.scale/sf0.1x{k}"
        os.makedirs(dst, exist_ok=True)
        build_replica(spark, k, dst)
        dirs[k] = dst

    queries = entrymod.queries()
    walls: dict[str, dict[int, float]] = {q: {} for q in QUERIES}
    # interleaved rounds: host-load beats hit every (query, k) equally
    for rep in range(reps):
        for k, d in dirs.items():
            for q in QUERIES:
                t0 = time.time()
                with scoped_caches():
                    queries[q](spark, d).write.format("noop") \
                        .mode("overwrite").save()
                w = time.time() - t0
                walls[q][k] = min(walls[q].get(k, 1e9), w)
        print(f"# rep {rep} loadavg {os.getloadavg()[0]:.1f}",
              file=sys.stderr, flush=True)

    report = {}
    for q in QUERIES:
        t1, t3, t10 = walls[q][1], walls[q][3], walls[q][10]
        # affine fit through k=1 and k=10
        b = (t10 - t1) / 9.0
        a = t1 - b
        pred3 = a + 3 * b
        report[q] = {
            "t_x1": round(t1, 3), "t_x3": round(t3, 3),
            "t_x10": round(t10, 3),
            "ratio_10x": round(t10 / t1, 2),
            "fixed_overhead_s": round(a, 3),
            "marginal_s_per_x": round(b, 4),
            "x3_pred_affine": round(pred3, 3),
            "x3_err_pct": round(100 * (t3 - pred3) / pred3, 1),
        }
    print(json.dumps(report, indent=1))
    spark.stop()


if __name__ == "__main__":
    main()
