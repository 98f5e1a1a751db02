"""Workload definitions, and the reasons each workload and metric exists.

Later changes cite these names: a change that claims a gain names the
workload and the per-layer metric it should move, and the workloads it
should leave flat (``LAYER_METRICS`` below).
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import NamedTuple


@dataclass(frozen=True)
class Workload:
    name: str
    kind: str                       # "batch" or "stream"
    why: str                        # why the workload exists
    #: named groups of items (queries or gates), each with the reason it
    #: is there; a per-layer metric ``<group>.warm_s`` reports each group
    groups: dict[str, tuple[str, ...]]
    #: warm passes (rounds) at least, so the median of each item's warm
    #: walls rejects a slow pass
    min_warm: int
    #: layer shares the traced run measured, one line each
    measured: tuple[str, ...] = field(default=())

    @property
    def items(self) -> tuple[str, ...]:
        return tuple(i for g in self.groups.values() for i in g)


#: batch queries are called as ``__spark_entry__.queries()[name](spark, sf)``
#: and collected with ``toPandas()``; each has an ``oracle_sql()`` twin
WORKLOADS = {
    "batch": Workload(
        name="batch",
        kind="batch",
        why=("Oracled queries of two kinds in one run.  driver_bound: "
             "LLM-data queries whose wall is mostly driver time outside any "
             "Spark job (query construction with eager probes and "
             "convergence collects), where driver-side changes show.  "
             "exec_bound: queries whose wall is mostly inside Spark jobs, on "
             "JVM operators and in Python workers, holding both paths of "
             "the BPE tokenizer (Column replace chain vs rank mapInPandas), "
             "so deleting one path shows its gain and the other's cost; "
             "driver-side changes should leave this group flat."),
        groups={
            "driver_bound": ("dup_clusters", "mixture_temperature"),
            "exec_bound": ("q1_pricing_summary", "bpe_token_counts",
                           "bpe_rank_token_counts"),
        },
        min_warm=3,
        measured=(
            "traced run, seed 3, 4 cores, sf 0.01 fixtures, 1g driver "
            "heap: warm pass 4.15 s (median of 3)",
            "driver_bound 2.78 s, of it 2.12 s (76%) outside any Spark job",
            "exec_bound 1.38 s, of it 0.78 s (57%) inside Spark jobs",
            "plan construction 2.47 s (60% of the pass), 12 eager jobs",
            "26 jobs, 35 tasks, 0.88 s task CPU per warm pass",
            "cold pass 20.7 s; Python worker start 1.5 s in it; scoped "
            "caches hold 0.71 MB after it; status-store reads 0.53 s a pass",
        ),
    ),
    "stream_replay": Workload(
        name="stream_replay",
        kind="stream",
        why=("The events table replayed in event-time order as a file "
             "stream through two stateful operators, closed loop: the only "
             "workload that runs streaming/ and the RocksDB state store, "
             "using state two ways (window: a few rows read and updated; "
             "dedup: one row per event written then evicted), so a "
             "state-store change that helps one and costs the other shows.  "
             "The spool repeats some event ids, near (inside the dedup "
             "horizon: dropped) and far (after eviction: emitted again), so "
             "the dedup's output count tests both its state and its "
             "eviction."),
        groups={"gates": ("window", "dedup")},
        # host steal comes in bursts of several seconds, which slowed
        # one or two of a run's first rounds; four rounds keep a run
        # near a minute
        min_warm=4,
        measured=(
            "traced run, seed 3, 4 cores, sf 0.01 fixture, 1g driver heap: "
            "warm round 4.94 s (median of 4) over 22,000 events per gate "
            "(1,000 near and 1,000 far copies among them), 5 triggers per "
            "drain",
            "window 7,896 events/s, dedup 10,203 events/s",
            "per round: 2.40 s inside Spark jobs, 2.62 s outside them",
            "per round: addBatch 3.31 s, offset and commit log 1.06 s, "
            "state commit 5.82 s summed over 4 partitions x 2 operators",
            "final state 2 rows after the sentinel trigger; 0 rows dropped "
            "as late; status-store reads 0.58 s a round",
        ),
    ),
}


class EndToEnd(NamedTuple):
    unit: str
    meaning: str


#: what a user of the engine sees, printed for every workload (a batch
#: "item" is a query, a stream item is a gate)
END_TO_END = {
    "setup_s": EndToEnd("s", "median of the run's set-ups, each from the "
                        "start of a fresh process until the spool is "
                        "written (stream), the session is up with a first "
                        "job run and the registry is imported: JVM launch "
                        "and package imports included"),
    "cold_s": EndToEnd("s", "sum of each item's first wall in a fresh "
                       "process and cache scope (cache builds, codegen, "
                       "Python worker start, state-store init)"),
    "warm_s": EndToEnd("s", "sum of per-item median walls over the warm "
                       "passes that follow the cold one (at least three)"),
    "warm_geomean_s": EndToEnd("s", "geometric mean of per-item median warm "
                               "walls, so a short item's regression is not "
                               "hidden by the heavy ones"),
    "pass_ratio": EndToEnd("ratio", "items that neither raised nor failed "
                           "their output check / items attempted"),
    "peak_rss_mb": EndToEnd("MB", "peak RSS of the driver process, the JVM "
                            "and the Python workers, summed from /proc "
                            "every 0.2 s"),
}


class LayerMetric(NamedTuple):
    unit: str
    layer: str      # module(s) the number describes
    source: str     # where the traced run reads it
    moves: str      # end-to-end metric it should move
    on: str         # workload where it should move / stay flat
    kind: str = "all"   # workload kind that runs the layer; others read 0


_ENG = "Spark execution under engine.py's session"
_PY = ("Arrow/pandas boundary: functions/, multimodal/, "
       "operators/{bpe,unigram,wordpiece}.py, similarity/")
_PY_ON = "batch/exec_bound, stream_replay / flat on batch/driver_bound"
_LOOP = "streaming/ micro-batch loop"
_STATE = "state store (RocksDB provider)"
_STATE_ON = "stream_replay dedup gate / flat on the window gate"

#: every per-layer metric the traced run prints, with the end-to-end
#: metric and workload it should move; a number is a workload total per
#: warm pass unless its source says otherwise
LAYER_METRICS = {
    "entry.build_s": LayerMetric(
        "s",
        "plan construction: __spark_entry__ builders over pipeline, "
        "operators/, dedup/, similarity/ (stream: gate builders)",
        "wall inside queries()[name](...)",
        "warm_s, cold_s",
        "batch/driver_bound / flat on batch/exec_bound"),
    "entry.build_jobs": LayerMetric(
        "count",
        "plan construction",
        "status-store jobs submitted inside the build span (eager actions)",
        "warm_s, cold_s",
        "batch/driver_bound / flat on batch/exec_bound"),
    "engine.jobs": LayerMetric(
        "count",
        _ENG,
        "status store jobs",
        "warm_s, warm_geomean_s",
        "batch/driver_bound"),
    "engine.tasks": LayerMetric(
        "count",
        _ENG,
        "status store completed tasks",
        "warm_s, warm_geomean_s",
        "batch/driver_bound"),
    "engine.job_span_s": LayerMetric(
        "s",
        _ENG,
        "interval union of job spans inside each query or gate",
        "warm_s",
        "batch/exec_bound"),
    "engine.driver_gap_s": LayerMetric(
        "s",
        _ENG,
        "wall minus job span: driver time outside any job",
        "warm_s",
        "batch/driver_bound"),
    "engine.task_cpu_s": LayerMetric(
        "s",
        _ENG,
        "sum of stage executorCpuTime",
        "warm_s",
        "batch/exec_bound / flat on batch/driver_bound"),
    "engine.gc_s": LayerMetric(
        "s",
        _ENG,
        "sum of stage jvmGcTime",
        "warm_s",
        "batch/exec_bound / flat on batch/driver_bound"),
    "engine.task_wait_s": LayerMetric(
        "s",
        _ENG,
        "sum of executorRunTime minus executorCpuTime: task time on Python or"
        " IO",
        "warm_s",
        "batch/exec_bound / flat on batch/driver_bound"),
    "engine.shuffle_bytes": LayerMetric(
        "bytes",
        _ENG,
        "stage shuffle-write bytes",
        "warm_s, peak_rss_mb",
        "batch/exec_bound"),
    "engine.spill_bytes": LayerMetric(
        "bytes",
        _ENG,
        "stage memory + disk spill",
        "warm_s, peak_rss_mb",
        "batch/exec_bound"),
    "sources.input_bytes": LayerMetric(
        "bytes",
        "sources/ scans",
        "stage inputBytes",
        "cold_s, warm_s",
        "batch/exec_bound"),
    "python.run_s": LayerMetric(
        "s",
        _PY,
        "SQL metric 'time to run Python workers'",
        "warm_s",
        _PY_ON),
    "python.start_s": LayerMetric(
        "s",
        _PY,
        "SQL metric 'time to start Python workers', cold pass",
        "cold_s",
        _PY_ON),
    "python.bytes_sent": LayerMetric(
        "bytes",
        _PY,
        "SQL metric 'data sent to Python workers'",
        "warm_s",
        _PY_ON),
    "python.bytes_received": LayerMetric(
        "bytes",
        _PY,
        "SQL metric 'data returned from Python workers'",
        "warm_s",
        _PY_ON),
    "caching.cached_bytes": LayerMetric(
        "bytes",
        "plans/caching scoped caches",
        "RDD storage held after the cold pass",
        "cold_s (build) vs warm_s (reuse), peak_rss_mb",
        "batch/driver_bound",
        kind="batch"),
    "streaming.triggers": LayerMetric(
        "count",
        _LOOP,
        "recentProgress entries",
        "warm_s",
        "stream_replay",
        kind="stream"),
    "streaming.planning_s": LayerMetric(
        "s",
        _LOOP,
        "durationMs.queryPlanning",
        "warm_s",
        "stream_replay",
        kind="stream"),
    "streaming.add_batch_s": LayerMetric(
        "s",
        _LOOP,
        "durationMs.addBatch",
        "warm_s",
        "stream_replay",
        kind="stream"),
    "streaming.log_s": LayerMetric(
        "s",
        _LOOP,
        "walCommit + commitOffsets + latestOffset + getBatch (fixed per "
        "trigger)",
        "warm_s, the window gate most",
        "stream_replay",
        kind="stream"),
    "streaming.state_rows": LayerMetric(
        "count",
        _STATE,
        "final stateOperators numRowsTotal",
        "peak_rss_mb",
        _STATE_ON,
        kind="stream"),
    "streaming.state_bytes": LayerMetric(
        "bytes",
        _STATE,
        "final stateOperators memoryUsedBytes",
        "peak_rss_mb",
        _STATE_ON,
        kind="stream"),
    "streaming.state_commit_s": LayerMetric(
        "s",
        _STATE,
        "sum of commitTimeMs",
        "warm_s",
        _STATE_ON,
        kind="stream"),
    "streaming.state_update_s": LayerMetric(
        "s",
        _STATE,
        "sum of allUpdatesTimeMs",
        "warm_s",
        _STATE_ON,
        kind="stream"),
    "streaming.state_removal_s": LayerMetric(
        "s",
        _STATE,
        "sum of allRemovalsTimeMs",
        "warm_s",
        _STATE_ON,
        kind="stream"),
    "streaming.dropped_late": LayerMetric(
        "count",
        "watermark",
        "sum of numRowsDroppedByWatermark",
        "none: a correctness guard, the spool holds no late rows",
        "stream_replay",
        kind="stream"),
    "window_events_per_s": LayerMetric(
        "events/s",
        "streaming/ windowed_aggregate",
        "spool events over the median warm drain wall",
        "warm_s",
        "stream_replay",
        kind="stream"),
    "dedup_events_per_s": LayerMetric(
        "events/s",
        "streaming/ streaming_distinct",
        "spool events over the median warm drain wall",
        "warm_s",
        "stream_replay",
        kind="stream"),
    "driver_bound.warm_s": LayerMetric(
        "s",
        "batch driver_bound group",
        "sum of its queries' median warm walls",
        "warm_s",
        "batch",
        kind="batch"),
    "exec_bound.warm_s": LayerMetric(
        "s",
        "batch exec_bound group",
        "sum of its queries' median warm walls",
        "warm_s",
        "batch",
        kind="batch"),
    "driver_bound.driver_gap_s": LayerMetric(
        "s",
        _ENG,
        "engine.driver_gap_s of the driver_bound queries",
        "warm_s",
        "batch",
        kind="batch"),
    "exec_bound.job_span_s": LayerMetric(
        "s",
        _ENG,
        "engine.job_span_s of the exec_bound queries",
        "warm_s",
        "batch",
        kind="batch"),
    "host.canary_s": LayerMetric(
        "s",
        "host",
        "median wall of a fixed lineitem group-agg sampled after the cold "
        "pass and at the end of the run",
        "none: host-noise witness",
        "all"),
    "host.steal_ratio": LayerMetric(
        "ratio",
        "host",
        "/proc/stat steal over all cpu time during the run",
        "none: host-noise witness",
        "all"),
    "trace.overhead_s": LayerMetric(
        "s",
        "benchmark",
        "status-store reads per pass, the wall tracing adds",
        "none",
        "all"),
}
