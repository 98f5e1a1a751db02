#!/usr/bin/env python3
"""The repository's benchmark: one workload per run, one JSON result line.

    python3 perfbench/run.py --workload batch --seed 1 \\
        --seconds 12 --trace 0

Run from the repository root.  Each run starts one driver process with a
``local[nproc]`` session (shuffle partitions = nproc) over the test
fixture tables committed under ``perfbench/fixtures/sf<sf>/`` (read-only
copies; the seed never changes them), and measures:

* ``batch``: every query of the workload once in a fresh cache scope
  (the cold pass), then checks each query's collected output against its
  ``oracle_sql()`` DuckDB twin (untimed), then repeats warm passes for
  at least ``--seconds`` and at least the workload's ``min_warm`` times.
  Each timed call is ``queries()[name](spark, sf)`` plus ``toPandas()``:
  the time until the complete result is in the driver.
  The seed permutes the query order of every pass.
* ``stream_replay``: the events table, replicated with distinct ids into
  per-replica time regions (the seed shifts them), with some ids
  repeated, written as an event-time-ordered spool and replayed through
  ``file_stream`` with a fixed ``max_files_per_trigger`` into each gate
  in turn, in a fixed order, round after round.  Each drain is
  a fresh query that starts, runs ``processAllAvailable`` and stops
  (closed loop).  Each gate's output row count is checked against a
  reference over the spool (the dedup reference replays the spool file by
  file through a within-watermark dedup), and its final state must fit in
  one micro-batch.

``setup_s`` is the median of ``SETUPS`` set-ups, each timed from the start
of a fresh process: this run's own, and more in child processes
(``--setup-only``) after the workload has stopped its JVM.

With ``--trace 1`` the run also reads the per-layer numbers from Spark's
status store and ``StreamingQuery.recentProgress`` and writes its spans
to ``.perfbench/traces/<run id>.json``.  The last stdout line is the
result: ``{"correct", "attempted", "failed", "metrics"}``.
"""

from __future__ import annotations

import time

T_PROCESS = time.time()

import argparse  # noqa: E402
import importlib  # noqa: E402
import json  # noqa: E402
import math  # noqa: E402
import os  # noqa: E402
import random  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import threading  # noqa: E402
import traceback  # noqa: E402
import uuid  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from workloads import END_TO_END, LAYER_METRICS, WORKLOADS  # noqa: E402

FIXTURES = os.path.join(HERE, "fixtures")
#: scale factor of the fixture tables (60k lineitem rows, 10k events)
DEFAULT_SF = "0.01"
#: driver heap.  Under the engine's 8g default, peak RSS followed the
#: JVM's adaptive young generation more than the workload: 2,065-3,695 MB
#: over ten batch runs and 1,550-3,117 MB over five stream runs, against
#: 1,332-1,650 MB and 978-1,236 MB at 1g
DRIVER_MEM = "1g"
#: set-ups per run, each from a fresh process start; ``setup_s`` is
#: their median.  Each pays a JVM launch (about 11 s on 4 cores), so a
#: third would add a fifth to a run's wall
SETUPS = 2
PASS_KINDS = ("cold", "warm")
#: a run that is still going after this long kills its process tree
DEADLINE_S = 170.0
#: streaming spool: replicas of the events table, files, files per trigger
REPLICAS = 2
SPOOL_FILES = 4
FILES_PER_TRIGGER = 1
#: id offset between replicas, and the span of one replica's time region
#: (the events fixture spans 30 days)
REPLICA_ID_STRIDE = 100_000_000
REPLICA_REGION_DAYS = 32
DAY_US = 86_400 * 1_000_000
#: event-time window of the window gate
WINDOW, WINDOW_US = "1 day", DAY_US
#: the dedup gate's horizon, which is also its watermark delay
DEDUP_WITHIN, DEDUP_WITHIN_US = "10 minutes", 600 * 1_000_000
#: repeated event ids in the spool, as shares of the replicated events:
#: near copies 1 s to 5 min after their original (inside the horizon, so
#: the dedup drops them) and far copies a replica region and a day later
#: (after the original's state was evicted, so the dedup emits them)
NEAR_DUP_SHARE, NEAR_DUP_MAX_US = 0.05, 300 * 1_000_000
FAR_DUP_SHARE, FAR_DUP_SHIFT_US = 0.05, (REPLICA_REGION_DAYS + 1) * DAY_US
SENTINEL_USER = -1


# --------------------------------------------------------------------------
# host witnesses and process-tree memory
# --------------------------------------------------------------------------

def process_tree(root: int) -> dict[int, int]:
    """``{pid: parent pid}`` of ``root`` and all its descendants (the JVM
    and the Python workers)."""
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(d))
    out, todo = {root: 0}, [root]
    while todo:
        pid = todo.pop()
        for kid in kids.get(pid, []):
            out[kid] = pid
            todo.append(kid)
    return out


def tree_rss_bytes(root: int) -> int:
    """RSS summed over the process tree.  A child that still runs its
    parent's executable and is not a Python worker (pyspark's daemon forks
    those, and they then live on their own memory) is caught between the
    clone and the ``exec`` of a helper the JVM starts (``chmod``,
    ``readlink``, ...).  It shares the JVM's memory and reports the JVM's
    size, so it counts for nothing."""
    rss: dict[int, int] = {}
    exe: dict[int, str] = {}
    tree = process_tree(root)
    for pid in tree:
        try:
            exe[pid] = os.readlink(f"/proc/{pid}/exe")
            with open(f"/proc/{pid}/statm") as f:
                rss[pid] = int(f.read().split()[1])
        except OSError:
            continue
    page = os.sysconf("SC_PAGE_SIZE")
    return page * sum(
        pages for pid, pages in rss.items()
        if exe[pid] != exe.get(tree[pid])
        or "python" in os.path.basename(exe[pid]))


class RssSampler(threading.Thread):
    """Peak RSS of this process plus its descendants, sampled from /proc."""

    def __init__(self, interval: float = 0.2):
        super().__init__(daemon=True)
        self.interval = interval
        self.peak = 0
        self._stop_evt = threading.Event()

    def run(self) -> None:
        while not self._stop_evt.is_set():
            self.peak = max(self.peak, tree_rss_bytes(os.getpid()))
            self._stop_evt.wait(self.interval)

    def stop(self) -> int:
        self._stop_evt.set()
        self.join(timeout=5)
        return self.peak


def cpu_jiffies() -> tuple[int, int]:
    """(steal, total) jiffies over all cpus from /proc/stat."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return fields[7], sum(fields)


def stop_jvm() -> None:
    """End the JVM pyspark launched and wait for it: it exits when its
    stdin closes, and takes the Python workers with it."""
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def kill_tree_and_exit(code: int) -> None:
    for pid in reversed(list(process_tree(os.getpid()))[1:]):
        try:
            os.kill(pid, signal.SIGKILL)
        except OSError:
            pass
    os._exit(code)


# --------------------------------------------------------------------------
# set-up
# --------------------------------------------------------------------------

def configure_env(run_dir: str, nproc: int) -> None:
    """Point every temp and local dir of this run inside the checkout and
    size the engine to the host, before pyspark starts a JVM."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc)
    os.environ["SPARK_GRAFT_SHUFFLE_PARTITIONS"] = str(nproc)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options -Djava.io.tmpdir={tmp} "
        "--conf spark.ui.showConsoleProgress=false "
        f"--conf spark.sql.warehouse.dir={os.path.join(run_dir, 'warehouse')} "
        "pyspark-shell")


def set_up(ctx) -> float:
    """One set-up in this process: the spool written (stream workloads),
    the session up with a first job run, and the registry imported.
    Returns the seconds since this process started."""
    if ctx.workload.kind == "stream":
        ctx.spool_dir = os.path.join(ctx.run_dir, "spool")
        ctx.spool = write_spool(os.path.join(ctx.sf_dir, "events.parquet"),
                                ctx.spool_dir, ctx.seed)
    sys.path.insert(0, ROOT)
    from apache_beam_spark import engine

    ctx.spark = engine.get_spark("perfbench")
    ctx.spark.sparkContext.setLogLevel("ERROR")
    ctx.spark.range(1).count()
    ctx.entry = importlib.import_module("__spark_entry__")
    ctx.queries = ctx.entry.queries()
    return time.time() - T_PROCESS


def child_set_ups(args, n: int) -> list[float]:
    """``n`` more set-ups, each in a fresh process that exits after it."""
    out = []
    for _ in range(n):
        proc = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--workload",
             args.workload, "--seed", str(args.seed), "--seconds",
             str(args.seconds), "--sf", args.sf, "--setup-only"],
            cwd=ROOT, capture_output=True, text=True, timeout=90)
        if proc.returncode != 0:
            raise RuntimeError("set-up process failed:\n"
                               + proc.stderr[-2000:])
        out.append(json.loads(proc.stdout.strip().splitlines()[-1])["setup_s"])
    return out


# --------------------------------------------------------------------------
# batch workloads
# --------------------------------------------------------------------------

def geomean(values: list[float]) -> float:
    """Geometric mean; 0 when every item failed (the run is not correct)."""
    if not values:
        return 0.0
    return math.exp(statistics.fmean(math.log(v) for v in values))


def outputs_match(got, want) -> str | None:
    """None when the collected frame equals the oracle's, else why not.
    Same contract as ``scripts/oracle_check.py``: rows, sorted column
    names, order-insensitive values after ``canon``."""
    import pandas as pd
    from oracle_check import canon

    if len(got) != len(want):
        return f"rows {len(got)} != oracle {len(want)}"
    s, o = canon(got), canon(want)
    if list(s.columns) != list(o.columns):
        return f"columns {list(s.columns)} != oracle {list(o.columns)}"
    try:
        pd.testing.assert_frame_equal(s, o, check_dtype=False,
                                      check_exact=False, rtol=0, atol=1e-9)
    except AssertionError as e:
        return "values: " + str(e)[:300]
    return None


def run_batch(ctx) -> dict:
    import duckdb

    from apache_beam_spark.plans.caching import scoped_caches

    sys.path.insert(0, os.path.join(ROOT, "scripts"))
    spark, queries, oracles = ctx.spark, ctx.queries, ctx.entry.oracle_sql()
    names = list(ctx.workload.items)
    rng = random.Random(ctx.seed)
    cold: dict[str, float] = {}
    warm: dict[str, list[float]] = {n: [] for n in names}
    results = {}
    want_rows: dict[str, int] = {}

    def timed(name: str, pass_span) -> float:
        item = ctx.tracer.add(name, time.time(), 0.0, pass_span, kind="query")
        t0 = time.time()
        df = queries[name](spark, ctx.sf_dir)
        t1 = time.time()
        out = df.toPandas()
        t2 = time.time()
        item.start, item.end = t0, t2
        ctx.tracer.add("build", t0, t1, item)
        ctx.tracer.add("execute", t1, t2, item)
        results[name] = out
        return t2 - t0

    with scoped_caches():
        order = rng.sample(names, len(names))
        span = ctx.begin_pass("cold")
        for name in order:
            try:
                cold[name] = timed(name, span)
            except Exception:
                ctx.fail(name, "raised in the cold pass:\n"
                         + traceback.format_exc())
        ctx.end_pass(span)
        ctx.log(f"cold pass {cold}")
        if ctx.trace:
            ctx.layer["caching.cached_bytes"] = float(
                ctx.reader.cached_bytes())

        duck = duckdb.connect()
        for t in ctx.tables:
            duck.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                         f"read_parquet('{ctx.sf_dir}/{t}.parquet')")
        for name in order:
            if name not in cold:
                continue
            try:
                want = duck.execute(oracles[name]).fetchdf()
                why = outputs_match(results[name], want)
            except Exception:
                why = "raised in the output check:\n" + traceback.format_exc()
            if why:
                ctx.fail(name, why)
            else:
                want_rows[name] = len(want)
        duck.close()
        ctx.log("output checks done")
        ctx.canary()

        ok = [n for n in names if n in cold and n not in ctx.failures]

        def warm_pass() -> None:
            span = ctx.begin_pass("warm")
            for name in rng.sample(ok, len(ok)):
                try:
                    wall = timed(name, span)
                except Exception:
                    ctx.fail(name, "raised in a warm pass:\n"
                             + traceback.format_exc())
                    ok.remove(name)
                    continue
                if len(results[name]) != want_rows[name]:
                    ctx.fail(name, f"warm pass returned "
                             f"{len(results[name])} rows, oracle "
                             f"{want_rows[name]}")
                    ok.remove(name)
                else:
                    warm[name].append(wall)
            ctx.end_pass(span)
            ctx.log("warm pass done")

        t_warm, last, passes = time.time(), 0.0, 0
        while ok and (passes < ctx.workload.min_warm
                      or time.time() - t_warm + last <= ctx.seconds):
            t_pass = time.time()
            warm_pass()
            passes += 1
            last = time.time() - t_pass

    ok = [n for n in ok if warm[n]]
    for group, queries_ in ctx.workload.groups.items():
        ctx.layer[f"{group}.warm_s"] = sum(
            statistics.median(warm[q]) for q in queries_ if q in ok)
    medians = [statistics.median(warm[n]) for n in ok]
    return {
        "cold_s": sum(cold.values()),
        "warm_s": sum(medians),
        "warm_geomean_s": geomean(medians),
        "items": {n: {"cold_s": cold.get(n), "warm_s": warm[n]}
                  for n in names},
    }


# --------------------------------------------------------------------------
# streaming workload
# --------------------------------------------------------------------------

def write_spool(events_path: str, spool_dir: str, seed: int) -> dict:
    """Replicate the events table into per-replica time regions (the seed
    shifts them), add near and far copies of some events under the same
    event id, and write the lot as ``SPOOL_FILES`` files, each a
    contiguous event-time range, with increasing modification times so
    the file source replays them in event-time order.  The last file ends
    with a sentinel event that pushes the watermark past every real
    window.  Returns the spool's facts."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    base = pq.read_table(events_path)
    # the fixture's ts is TIMESTAMP_NTZ, which watermarks reject; the spool
    # carries UTC timestamps, as a stream source would
    utc = pa.timestamp("us", tz="UTC")
    base_us = base["ts"].cast(pa.timestamp("us")).cast(pa.int64())
    rng = np.random.default_rng(seed)
    ts_at = base.schema.get_field_index("ts")

    def with_ts(table, ts_us):
        return table.set_column(ts_at, "ts", pa.array(ts_us, pa.int64())
                                .cast(utc))

    parts = []
    for i in range(REPLICAS):
        shift_us = int((i * REPLICA_REGION_DAYS + rng.random()) * DAY_US)
        parts.append(with_ts(base, pc.add(base_us, shift_us)).set_column(
            0, "event_id", pc.add(base["event_id"], i * REPLICA_ID_STRIDE)))
    rows = pa.concat_tables(parts).sort_by("ts")
    ts = rows["ts"].cast(pa.int64()).to_numpy()
    n = rows.num_rows
    # file k holds the events from cuts[k - 1] up to cuts[k]: equal
    # shares of the replicated events
    cuts = ts[np.linspace(0, n, SPOOL_FILES + 1).astype(int)[1:-1]]
    pick = rng.permutation(n)
    n_near = int(n * NEAR_DUP_SHARE)
    near = pick[:n_near]
    near_ts = ts[near] + rng.integers(1_000_000, NEAR_DUP_MAX_US, n_near)
    # far copies repeat events of the first file whose state the dedup
    # evicts at the end of the second micro-batch, when the watermark
    # stands at the first file's last event minus the horizon; an hour's
    # margin keeps each eviction clear of the watermark
    so_far = np.concatenate([ts, near_ts])
    evict_wm = so_far[so_far < cuts[0]].max() - DEDUP_WITHIN_US
    rest = pick[n_near:]
    far = rest[ts[rest] + DEDUP_WITHIN_US < evict_wm - 3600 * 1_000_000]
    far = far[:int(n * FAR_DUP_SHARE)]
    spool = pa.concat_tables([
        rows, with_ts(rows.take(near), near_ts),
        with_ts(rows.take(far), ts[far] + FAR_DUP_SHIFT_US)]).sort_by(
        [("ts", "ascending"), ("event_id", "ascending")])
    last_us = spool["ts"].cast(pa.int64())[-1].as_py()
    sentinel = with_ts(pa.table({
        "event_id": pa.array([-1], pa.int64()),
        "ts": pa.array([0], pa.int64()),
        "user_id": pa.array([SENTINEL_USER], pa.int64()),
        "event_type": ["view"], "value": [0.0], "props": ['{"k": 0}']}),
        [last_us + 2 * DAY_US]).cast(spool.schema)
    spool = pa.concat_tables([spool, sentinel])
    file_of = np.searchsorted(
        cuts, spool["ts"].cast(pa.int64()).to_numpy(), side="right")
    bounds = np.searchsorted(file_of, np.arange(SPOOL_FILES + 1))
    files = [spool.slice(bounds[k], bounds[k + 1] - bounds[k])
             for k in range(SPOOL_FILES)]
    os.makedirs(spool_dir)
    mtime = time.time() - 3600
    for k, part in enumerate(files):
        path = os.path.join(spool_dir, f"part-{k:05d}.parquet")
        pq.write_table(part, path)
        os.utime(path, (mtime + k, mtime + k))
    return {"events": spool.num_rows - 1,
            "near_copies": len(near), "far_copies": len(far),
            "expected": expected_rows(files),
            "max_file_rows": max(f.num_rows for f in files)}


def gate_builders(spark, spool_dir: str):
    """The gates, each built only through public streaming entry points
    over the ``file_stream`` that ``stream()`` returns."""
    from pyspark.sql import functions as F

    from apache_beam_spark.streaming import (
        file_stream, streaming_distinct, windowed_aggregate)
    from apache_beam_spark.windowing import FixedWindows

    schema = spark.read.parquet(spool_dir).schema

    def stream():
        return file_stream(spark, spool_dir, schema=schema,
                           max_files_per_trigger=FILES_PER_TRIGGER)

    def window(src):
        return windowed_aggregate(src, FixedWindows(WINDOW), "ts",
                                  aggs=[F.count(F.lit(1)).alias("n")],
                                  keys=["event_type"],
                                  allowed_lateness="10 minutes")

    def dedup(src):
        return streaming_distinct(src, ["event_id"], "ts",
                                  within=DEDUP_WITHIN)

    return stream, {"window": window, "dedup": dedup}


def expected_rows(files) -> dict:
    """Output rows each gate must emit, computed from the spool files
    without Spark as an independent reference.  The sentinel's own window
    never closes, so the window gate leaves it out; dedup emits it."""
    import numpy as np
    import pyarrow as pa

    spool = pa.concat_tables(files)
    ts = spool["ts"].cast("int64").to_numpy()
    kind = spool["event_type"].to_numpy(zero_copy_only=False)
    real = spool["user_id"].to_numpy() != SENTINEL_USER
    day = ts // WINDOW_US
    _, per_window = np.unique(
        np.stack([np.unique(kind, return_inverse=True)[1][real], day[real]]),
        axis=1, return_counts=True)
    return {"window": len(per_window),
            "dedup": dedup_survivors(
                [(f["event_id"].to_numpy(), f["ts"].cast("int64").to_numpy())
                 for f in files])}


def dedup_survivors(batches) -> int:
    """Rows a within-watermark dedup emits when fed ``batches`` of
    ``(event ids, event-time us)`` one micro-batch each.  An id is
    emitted unless it is held in state; an emitted id is held until the
    watermark passes its event time plus the horizon, and expired ids
    are evicted at the end of each micro-batch.  The watermark of a
    micro-batch is the largest event time of the earlier ones minus the
    horizon; rows at or below it are late and dropped."""
    held: dict[int, int] = {}
    watermark = None
    emitted = 0
    for ids, ts in batches:
        for key, t in zip(ids.tolist(), ts.tolist()):
            if watermark is not None and t <= watermark:
                continue
            if key not in held:
                held[key] = t + DEDUP_WITHIN_US
                emitted += 1
        if watermark is not None:
            held = {k: e for k, e in held.items() if e >= watermark}
        if len(ts):
            top = int(ts.max()) - DEDUP_WITHIN_US
            watermark = top if watermark is None else max(watermark, top)
    return emitted


def drain_round(ctx, names: list[str], build, pass_span) -> dict:
    """Drain the spool through each gate in turn: build it, start it on a
    fresh checkpoint, ``processAllAvailable`` and stop it (closed loop:
    the engine pulls the next micro-batch only after the previous one
    committed).  The wall runs from the build call to the return of
    ``processAllAvailable``.  Returns ``{name: (wall, progress)}``; a gate that
    raised maps to its traceback."""
    out = {}
    for name in names:
        ckpt = os.path.join(ctx.run_dir, "ckpt",
                            f"{name}-{len(ctx.tracer.spans)}")
        item = ctx.tracer.add(name, time.time(), 0.0, pass_span, kind="gate")
        q = None
        try:
            df = build(name)
            ctx.tracer.add("build", item.start, time.time(), item)
            q = (df.writeStream.format("noop").outputMode("append")
                 .option("checkpointLocation", ckpt).start())
            q.processAllAvailable()
            item.end = time.time()
            progress = [json.loads(p.json) for p in q.recentProgress]
        except Exception:
            out[name] = traceback.format_exc()
            continue
        finally:
            if q is not None:
                q.stop()
            shutil.rmtree(ckpt, ignore_errors=True)
        for p in progress:
            end = _iso_epoch(p["timestamp"]) + p["batchDuration"] / 1e3
            ctx.tracer.add("trigger", end - p["batchDuration"] / 1e3, end,
                           item, batch=p["batchId"],
                           rows=p.get("numInputRows", 0))
        out[name] = (item.end - item.start, progress)
    return out


def _iso_epoch(stamp: str) -> float:
    from datetime import datetime

    return datetime.fromisoformat(stamp.replace("Z", "+00:00")).timestamp()


def check_drain(ctx, name: str, progress: list[dict], want: int,
                facts: dict) -> None:
    got = sum(p.get("sink", {}).get("numOutputRows", 0) for p in progress)
    if got != want:
        ctx.fail(name, f"emitted {got} rows, reference {want}")
    final = progress[-1].get("stateOperators", []) if progress else []
    state_rows = sum(s.get("numRowsTotal", 0) for s in final)
    if state_rows > facts["max_file_rows"]:
        ctx.fail(name, f"final state {state_rows} rows exceeds one "
                 f"micro-batch ({facts['max_file_rows']} rows)")


def stream_layer(progress_by_gate: dict[str, list[list[dict]]],
                 rounds: int) -> dict:
    """Per-round streaming numbers from ``recentProgress`` of warm drains."""
    out = {k: 0.0 for k in ("streaming.triggers", "streaming.planning_s",
                            "streaming.add_batch_s", "streaming.log_s",
                            "streaming.state_rows", "streaming.state_bytes",
                            "streaming.state_commit_s",
                            "streaming.state_update_s",
                            "streaming.state_removal_s",
                            "streaming.dropped_late")}
    for drains in progress_by_gate.values():
        for progress in drains:
            for p in progress:
                d = p.get("durationMs", {})
                out["streaming.triggers"] += 1
                out["streaming.planning_s"] += d.get("queryPlanning", 0) / 1e3
                out["streaming.add_batch_s"] += d.get("addBatch", 0) / 1e3
                out["streaming.log_s"] += sum(
                    d.get(k, 0) for k in ("walCommit", "commitOffsets",
                                          "latestOffset", "getBatch")) / 1e3
                for s in p.get("stateOperators", []):
                    out["streaming.state_commit_s"] += s.get(
                        "commitTimeMs", 0) / 1e3
                    out["streaming.state_update_s"] += s.get(
                        "allUpdatesTimeMs", 0) / 1e3
                    out["streaming.state_removal_s"] += s.get(
                        "allRemovalsTimeMs", 0) / 1e3
                    out["streaming.dropped_late"] += s.get(
                        "numRowsDroppedByWatermark", 0)
            if progress:
                for s in progress[-1].get("stateOperators", []):
                    out["streaming.state_rows"] += s.get("numRowsTotal", 0)
                    out["streaming.state_bytes"] += s.get(
                        "memoryUsedBytes", 0)
    return {k: v / max(rounds, 1) for k, v in out.items()}


def run_stream(ctx) -> dict:
    spark, facts = ctx.spark, ctx.spool
    stream, gates = gate_builders(spark, ctx.spool_dir)
    want = facts["expected"]
    names = list(ctx.workload.items)
    warm: dict[str, list[float]] = {n: [] for n in names}
    warm_progress: dict[str, list[list[dict]]] = {n: [] for n in names}

    def round_(kind: str, names: list[str]) -> dict[str, float]:
        span = ctx.begin_pass(kind)
        walls = {}
        done = drain_round(ctx, names, lambda n: gates[n](stream()), span)
        ctx.end_pass(span)
        for name, res in done.items():
            if isinstance(res, str):
                ctx.fail(name, f"raised in a {kind} round:\n{res}")
                continue
            check_drain(ctx, name, res[1], want[name], facts)
            walls[name] = res[0]
            if kind == "warm":
                warm_progress[name].append(res[1])
        ctx.log(f"{kind} round {walls}")
        return walls

    cold = round_("cold", names)
    ctx.canary()
    ok = [n for n in names if n in cold and n not in ctx.failures]
    t_warm, last, rounds = time.time(), 0.0, 0
    while ok and (rounds < ctx.workload.min_warm
                  or time.time() - t_warm + last <= ctx.seconds):
        t_round = time.time()
        for name, wall in round_("warm", ok).items():
            warm[name].append(wall)
        ok = [n for n in ok if n not in ctx.failures]
        rounds += 1
        last = time.time() - t_round

    medians = {n: statistics.median(warm[n]) for n in ok if warm[n]}
    for n in names:
        ctx.layer[f"{n}_events_per_s"] = (facts["events"] / medians[n]
                                          if n in medians else 0.0)
    if ctx.trace:
        ctx.layer.update(stream_layer(warm_progress, rounds))
    return {
        "cold_s": sum(cold.values()),
        "warm_s": sum(medians.values()),
        "warm_geomean_s": geomean(list(medians.values())),
        "items": {n: {"cold_s": cold.get(n), "warm_s": warm[n],
                      "expected_rows": want[n]} for n in names},
    }


# --------------------------------------------------------------------------
# the run
# --------------------------------------------------------------------------

class Context:
    """One run's settings, session, failures, spans and status-store reads,
    passed to the workload functions."""

    def __init__(self, args, workload, run_dir, sf_dir, tables):
        from tracing import Tracer

        self.workload = workload
        self.seed = args.seed
        self.seconds = args.seconds
        self.trace = bool(args.trace)
        self.run_dir = run_dir
        self.sf_dir = sf_dir
        self.tables = tables
        self.run_id = uuid.uuid4().hex[:12]
        self.tracer = Tracer(self.run_id)
        self.failures: dict[str, str] = {}
        self.attempted = len(workload.items)
        # layers this workload never runs read 0 in the traced output
        self.layer: dict[str, float] = {
            k: 0.0 for k, m in LAYER_METRICS.items()
            if m.kind not in ("all", workload.kind)}
        self.canaries: list[float] = []
        self.reads: dict[str, list[dict]] = {k: [] for k in PASS_KINDS}
        self.passes: dict[str, list] = {k: [] for k in PASS_KINDS}
        self.spark = self.entry = self.queries = self.reader = None
        self.spool_dir = self.spool = None

    def log(self, msg: str) -> None:
        print(f"# {time.time() - T_PROCESS:7.2f}s {msg}", file=sys.stderr)

    def fail(self, name: str, why: str) -> None:
        self.failures.setdefault(name, why)
        print(f"# FAIL {name}: {why}", file=sys.stderr)

    def begin_pass(self, kind: str):
        """Open a pass span; ``kind`` is cold or warm."""
        span = self.tracer.add(f"{kind}-pass", time.time(), 0.0, None,
                               kind="pass")
        self.passes[kind].append(span)
        return span

    def end_pass(self, span) -> None:
        span.end = time.time()
        if self.trace:
            self.reads[span.name[:-len("-pass")]].append(self.reader.read())

    def canary(self) -> None:
        from pyspark.sql import functions as F

        li = self.spark.read.parquet(f"{self.sf_dir}/lineitem.parquet")
        t0 = time.time()
        li.groupBy("l_returnflag", "l_linestatus").agg(
            F.sum("l_quantity"), F.avg("l_extendedprice"),
            F.count("*")).collect()
        self.canaries.append(time.time() - t0)


def layer_metrics(ctx) -> dict:
    """Per-layer numbers of the warm passes (per pass), attributed by
    the spans the benchmark recorded around each call."""
    from tracing import covered, engine_totals, job_intervals

    n = max(len(ctx.passes["warm"]), 1)
    out = {k: v / n for k, v in engine_totals(ctx.reads["warm"]).items()}
    out["python.start_s"] = engine_totals(
        ctx.reads["cold"])["python.start_s"]
    jobs = [j for k in PASS_KINDS for j in job_intervals(ctx.reads[k])]
    items = [s for s in ctx.tracer.spans if s.attrs.get("kind") in
             ("query", "gate")]
    builds = [s for s in ctx.tracer.spans if s.name == "build"]
    for start, end, job_id in jobs:
        parent = ctx.tracer.innermost(start, ctx.tracer.spans)
        ctx.tracer.add("job", start, end, parent, job_id=job_id)
    warm_ids = {s.id for s in ctx.passes["warm"]}
    busy: dict[str, float] = {}
    gap: dict[str, float] = {}
    build_s = 0.0
    build_jobs = 0
    for item in items:
        if item.parent not in warm_ids:
            continue
        inside = [(s, e) for s, e, _ in jobs if item.start <= s <= item.end]
        in_jobs = covered(inside, item.start, item.end)
        busy[item.name] = busy.get(item.name, 0.0) + in_jobs / n
        gap[item.name] = gap.get(item.name, 0.0) + (
            item.end - item.start - in_jobs) / n
    for span in builds:
        if ctx.tracer.spans[span.parent].parent in warm_ids:
            build_s += span.end - span.start
            build_jobs += sum(1 for s, _, _ in jobs
                              if span.start <= s <= span.end)
    out["engine.job_span_s"] = sum(busy.values())
    out["engine.driver_gap_s"] = sum(gap.values())
    out["entry.build_s"] = build_s / n
    out["entry.build_jobs"] = build_jobs / n
    groups = ctx.workload.groups
    if ctx.workload.kind == "batch":
        out["driver_bound.driver_gap_s"] = sum(
            gap.get(q, 0.0) for q in groups["driver_bound"])
        out["exec_bound.job_span_s"] = sum(
            busy.get(q, 0.0) for q in groups["exec_bound"])
    out["trace.overhead_s"] = ctx.reader.read_s / max(
        sum(len(r) for r in ctx.reads.values()), 1)
    return out


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf", default=DEFAULT_SF,
                    help="scale factor of the fixture tables, a directory "
                    "sf<sf> under perfbench/fixtures")
    ap.add_argument("--setup-only", action="store_true",
                    help="time one set-up in this process, print it, exit")
    args = ap.parse_args(argv)

    sf_dir = os.path.join(FIXTURES, f"sf{args.sf}")
    for need in (os.path.join(ROOT, "__spark_entry__.py"), sf_dir):
        if not os.path.exists(need):
            print(f"perfbench: {os.path.relpath(need, ROOT)} is missing; run "
                  "it from a checkout of the repository", file=sys.stderr)
            return 2
    watchdog = threading.Timer(DEADLINE_S, kill_tree_and_exit, (3,))
    watchdog.daemon = True
    watchdog.start()

    workload = WORKLOADS[args.workload]
    nproc = len(os.sched_getaffinity(0))
    work = os.path.join(ROOT, ".perfbench")
    run_dir = os.path.join(work, "runs", uuid.uuid4().hex[:12])
    os.makedirs(run_dir)
    configure_env(run_dir, nproc)
    os.chdir(run_dir)
    tables = sorted(p[:-len(".parquet")] for p in os.listdir(sf_dir)
                    if p.endswith(".parquet"))
    ctx = Context(args, workload, run_dir, sf_dir, tables)

    if args.setup_only:
        try:
            setup_s = set_up(ctx)
        finally:
            if ctx.spark is not None:
                ctx.spark.stop()
                stop_jvm()
            shutil.rmtree(run_dir, ignore_errors=True)
        watchdog.cancel()
        print(json.dumps({"setup_s": setup_s}))
        return 0

    steal0, total0 = cpu_jiffies()
    sampler = RssSampler()
    sampler.start()
    try:
        setups = [set_up(ctx)]
        if ctx.spool:
            ctx.log("spool " + json.dumps(ctx.spool))
        if args.trace:
            from tracing import StatusStoreReader

            ctx.reader = StatusStoreReader(ctx.spark)
            ctx.reader.read()
        if workload.kind == "batch":
            result = run_batch(ctx)
        else:
            result = run_stream(ctx)
        ctx.canary()
        layer = layer_metrics(ctx) if args.trace else {}
    finally:
        if ctx.spark is not None:
            ctx.spark.stop()
            stop_jvm()
        peak = sampler.stop()
        shutil.rmtree(run_dir, ignore_errors=True)
    # the other set-ups run once this run's JVM is gone, so they compete
    # with nothing the benchmark started
    setups += child_set_ups(args, SETUPS - 1)
    ctx.log(f"set-ups {setups}")
    steal1, total1 = cpu_jiffies()
    watchdog.cancel()
    ctx.log("stopped")

    failed = len(ctx.failures)
    end_to_end = {
        "setup_s": statistics.median(setups),
        "cold_s": result["cold_s"],
        "warm_s": result["warm_s"],
        "warm_geomean_s": result["warm_geomean_s"],
        "pass_ratio": (ctx.attempted - failed) / ctx.attempted,
        "peak_rss_mb": peak / 2 ** 20,
    }
    host = {"host.canary_s": statistics.median(ctx.canaries),
            "host.steal_ratio": (steal1 - steal0) / max(total1 - total0, 1)}
    import pyspark

    print("# perfbench " + json.dumps({
        "workload": workload.name, "seed": args.seed, "sf": args.sf,
        "nproc": nproc, "pyspark": pyspark.__version__,
        "run_id": ctx.run_id, **host, "failures": ctx.failures,
        "end_to_end": {k: {"value": v, "unit": END_TO_END[k].unit}
                       for k, v in end_to_end.items()}}))
    if args.trace:
        metrics = dict(ctx.layer, **layer, **host)
        out = {k: {"value": float(metrics[k]), "unit": m.unit}
               for k, m in LAYER_METRICS.items()}
        trace_dir = os.path.join(work, "traces")
        os.makedirs(trace_dir, exist_ok=True)
        with open(os.path.join(trace_dir, f"{ctx.run_id}.json"), "w") as f:
            json.dump(dict(ctx.tracer.to_json(), workload=workload.name,
                           seed=args.seed, items=result["items"],
                           setups=setups, metrics=metrics,
                           end_to_end=end_to_end, failures=ctx.failures), f)
    else:
        out = {k: {"value": v, "unit": END_TO_END[k].unit}
               for k, v in end_to_end.items()}
    print(json.dumps({"correct": failed == 0, "attempted": ctx.attempted,
                      "failed": failed, "metrics": out}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
