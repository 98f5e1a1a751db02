"""Traced-run support: spans, and per-layer numbers read from Spark's
status store from outside the program.

Reads ``sc._jsc.sc().statusStore()`` (jobs, stages, RDD storage) and the
SQL status store (per-node SQL metrics of the Python-worker nodes).  Both
are filled by Spark's own listeners whether or not anyone reads them, so
the untraced run pays nothing; the traced run pays the reads, which it
makes between passes and reports as ``trace.overhead_s``.
"""

from __future__ import annotations

import json
import re
import time
from dataclasses import asdict, dataclass, field

PY_METRICS = {
    "time to run Python workers": "python.run_s",
    "time to start Python workers": "python.start_s",
    "data sent to Python workers": "python.bytes_sent",
    "data returned from Python workers": "python.bytes_received",
}
_UNITS = {"B": 1, "KiB": 1024, "MiB": 1024 ** 2, "GiB": 1024 ** 3,
          "TiB": 1024 ** 4, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}
_TOTAL = re.compile(r"^\s*([0-9.]+)\s*([A-Za-z]+)")


def parse_sql_metric(text: str) -> float:
    """Value of a formatted SQL metric in bytes or seconds.  Spark prints
    either ``"1.2 s"`` or ``"total (min, med, max ...)\\n1.2 s (...)"``."""
    line = text.split("\n", 1)[1] if "\n" in text else text
    m = _TOTAL.match(line)
    if not m or m.group(2) not in _UNITS:
        raise ValueError(f"unparsed SQL metric {text!r}")
    return float(m.group(1)) * _UNITS[m.group(2)]


@dataclass
class Span:
    id: int
    parent: int | None
    name: str
    start: float                    # epoch seconds
    end: float
    attrs: dict = field(default_factory=dict)


class Tracer:
    """Spans kept in memory under one run id; written when the run ends."""

    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[Span] = []

    def add(self, name: str, start: float, end: float,
            parent: Span | None = None, **attrs) -> Span:
        span = Span(len(self.spans), parent.id if parent else None,
                    name, start, end, attrs)
        self.spans.append(span)
        return span

    def innermost(self, t: float, candidates: list[Span]) -> Span | None:
        """The shortest candidate span covering instant ``t``."""
        best = None
        for s in candidates:
            if s.start <= t <= s.end and (
                    best is None or s.end - s.start < best.end - best.start):
                best = s
        return best

    def to_json(self) -> dict:
        children: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                children.setdefault(s.parent, []).append(s)
        out = []
        for s in self.spans:
            d = asdict(s)
            d["self_s"] = (s.end - s.start) - covered(
                [(c.start, c.end) for c in children.get(s.id, [])],
                s.start, s.end)
            out.append(d)
        return {"run_id": self.run_id, "spans": out}


def covered(intervals: list[tuple[float, float]], lo: float,
            hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


class StatusStoreReader:
    """Incremental reader of jobs, stages and SQL executions: each
    ``read()`` returns only what finished since the previous call, so
    Spark's retention limits never drop an unread entry between passes."""

    def __init__(self, spark):
        sc = spark.sparkContext
        jvm = sc._jvm
        self._store = sc._jsc.sc().statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        scala_mod = getattr(jvm.com.fasterxml.jackson.module.scala,
                            "DefaultScalaModule$").__getattr__("MODULE$")
        self._mapper.registerModule(scala_mod)
        self._seen_jobs: set[int] = set()
        self._seen_stages: set[tuple[int, int]] = set()
        self._next_exec = 0
        self.read_s = 0.0

    def _json(self, obj):
        return json.loads(self._mapper.writeValueAsString(obj))

    def read(self) -> dict:
        t0 = time.time()
        store = self._store
        jobs = [j for j in self._json(store.jobsList(None))
                if j["jobId"] not in self._seen_jobs
                and j.get("completionTime")]
        self._seen_jobs.update(j["jobId"] for j in jobs)
        stage_ids = {s for j in jobs for s in j["stageIds"]}
        stages = []
        for s in self._json(store.stageList(
                None, False, False,
                getattr(store, "stageList$default$4")(),
                getattr(store, "stageList$default$5")())):
            key = (s["stageId"], s["attemptId"])
            if (s["stageId"] in stage_ids and key not in self._seen_stages
                    and s["status"] == "COMPLETE"):
                self._seen_stages.add(key)
                stages.append(s)
        execs = []
        n = self._sql.executionsCount()
        if n > self._next_exec:
            batch = self._sql.executionsList(self._next_exec,
                                             n - self._next_exec)
            for i in range(batch.size()):
                e = batch.apply(i)
                if not e.completionTime().isDefined():
                    n = min(n, self._next_exec + i)
                    break
                execs.append(self._python_metrics(e))
            self._next_exec = n
        self.read_s += time.time() - t0
        return {"jobs": jobs, "stages": stages, "executions": execs}

    def _python_metrics(self, e) -> dict:
        eid = e.executionId()
        names = {m["accumulatorId"]: PY_METRICS[m["name"]]
                 for m in self._json(e.metrics()) if m["name"] in PY_METRICS}
        out = {"executionId": eid, "submissionTime": e.submissionTime()}
        if names:
            values = self._json(self._sql.executionMetrics(eid))
            for acc, metric in names.items():
                text = values.get(str(acc))
                if text:
                    out[metric] = out.get(metric, 0.0) + parse_sql_metric(text)
        return out

    def cached_bytes(self) -> int:
        rdds = self._json(self._store.rddList(True))
        return sum(r.get("memoryUsed", 0) + r.get("diskUsed", 0) for r in rdds)


def engine_totals(reads: list[dict]) -> dict:
    """Sum the stage and SQL numbers of several ``read()`` results."""
    stages = [s for r in reads for s in r["stages"]]
    execs = [e for r in reads for e in r["executions"]]
    cpu = sum(s["executorCpuTime"] for s in stages) / 1e9
    run = sum(s["executorRunTime"] for s in stages) / 1e3
    out = {
        "engine.jobs": float(sum(len(r["jobs"]) for r in reads)),
        "engine.tasks": float(sum(s["numCompleteTasks"] for s in stages)),
        "engine.task_cpu_s": cpu,
        "engine.gc_s": sum(s["jvmGcTime"] for s in stages) / 1e3,
        "engine.task_wait_s": max(0.0, run - cpu),
        "engine.shuffle_bytes": float(sum(s["shuffleWriteBytes"]
                                          for s in stages)),
        "engine.spill_bytes": float(sum(s["memoryBytesSpilled"]
                                        + s["diskBytesSpilled"]
                                        for s in stages)),
        "sources.input_bytes": float(sum(s["inputBytes"] for s in stages)),
    }
    for metric in PY_METRICS.values():
        out[metric] = sum(e.get(metric, 0.0) for e in execs)
    return out


def job_intervals(reads: list[dict]) -> list[tuple[float, float, int]]:
    """(start, end, jobId) in epoch seconds for every job read."""
    return [(j["submissionTime"] / 1e3, j["completionTime"] / 1e3, j["jobId"])
            for r in reads for j in r["jobs"] if j.get("submissionTime")]
