"""Spans recorded by the benchmark, and Spark's own per-job counters.

A ``Tracer`` keeps spans in memory: pass -> op -> phase
(construct / action / asset / check) -> Spark job. Phase spans
are recorded from the benchmark's code around its calls into the
program. When tracing is on, entering a phase also sets the Spark job
group ``<op>:<phase>``, so the jobs carry their label in Spark's status
store; jobs submitted from threads the program starts itself carry no
group and are attributed by submission time instead.

After a pass, ``collect(spark)`` reads the stage/job status store
(``sc._jsc.sc().statusStore()``) and the SQL status store (which holds
the Python-worker node metrics) and hangs each job, with its stages'
counters, under the phase span whose interval holds its submission
time. Both stores work with ``spark.ui.enabled=false``.
"""

from __future__ import annotations

import contextlib
import datetime as dt
import itertools
import json
import re
import time

PHASES = ("construct", "action", "asset", "check")
# SQL node metrics kept per job, by their display name.
SQL_METRICS = {
    "time to run Python workers": "python_run_s",
    "time to start Python workers": "python_start_s",
    "time to initialize Python workers": "python_init_s",
    "data sent to Python workers": "bytes_to_python",
    "data returned from Python workers": "bytes_from_python",
    "number of written files": "files_written",
}
_UNITS = {"ns": 1e-9, "us": 1e-6, "ms": 1e-3, "s": 1.0, "m": 60.0,
          "h": 3600.0, "B": 1, "KiB": 2 ** 10, "MiB": 2 ** 20,
          "GiB": 2 ** 30, "TiB": 2 ** 40}
_STAGE_KEYS = ("numTasks", "executorRunTime", "executorCpuTime",
               "jvmGcTime", "inputBytes", "inputRecords", "outputBytes",
               "outputRecords", "shuffleReadBytes", "shuffleWriteBytes",
               "diskBytesSpilled")


class Span:
    __slots__ = ("id", "parent", "name", "kind", "start", "end",
                 "epoch_ms", "jobs", "attrs")

    def __init__(self, sid, parent, name, kind):
        self.id, self.parent, self.name, self.kind = sid, parent, name, kind
        self.start = time.perf_counter()
        self.epoch_ms = time.time() * 1000.0
        self.end = None
        self.jobs: list[dict] = []
        self.attrs: dict = {}

    @property
    def wall(self) -> float:
        return (self.end or time.perf_counter()) - self.start

    def as_dict(self) -> dict:
        return {"id": self.id, "parent": self.parent, "name": self.name,
                "kind": self.kind, "start_s": self.start,
                "wall_s": self.wall, "jobs": self.jobs, **self.attrs}


class Tracer:
    """In-memory span recorder. With ``enabled=False`` it still times
    spans (the runner needs op walls either way) but sets no job
    groups and reads no status store."""

    def __init__(self, spark, enabled: bool):
        self.spark, self.enabled = spark, enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._ids = itertools.count()
        self._seen_jobs: set[int] = set()
        self._seen_execs: set[int] = set()

    def open(self, name: str, kind: str) -> Span:
        parent = self._stack[-1].id if self._stack else None
        s = Span(next(self._ids), parent, name, kind)
        self.spans.append(s)
        self._stack.append(s)
        if self.enabled and kind in PHASES:
            op = next((p.name for p in reversed(self._stack)
                       if p.kind == "op"), name)
            self.spark.sparkContext.setJobGroup(
                f"{op}:{kind}:{name}", f"perfbench {kind} {name}")
        return s

    def close(self, s: Span) -> None:
        s.end = time.perf_counter()
        if self._stack.pop() is not s:
            raise RuntimeError("spans must close innermost first")
        if self.enabled and s.kind in PHASES:
            self.spark.sparkContext.setLocalProperty(
                "spark.jobGroup.id", None)

    @contextlib.contextmanager
    def span(self, name: str, kind: str):
        s = self.open(name, kind)
        try:
            yield s
        finally:
            self.close(s)

    def children(self, span: Span, kind: str | None = None) -> list[Span]:
        out, frontier = [], {span.id}
        for s in self.spans:                 # spans are in start order
            if s.parent in frontier:
                frontier.add(s.id)
                if kind is None or s.kind == kind:
                    out.append(s)
        return out

    # ---------------------------------------------------------------
    # Status stores
    # ---------------------------------------------------------------

    def collect(self, root: Span) -> None:
        """Attach every Spark job submitted during ``root`` (a pass
        span) to its innermost phase span, with stage counters and the
        Python-node metrics of the SQL executions it ran."""
        sc = self.spark.sparkContext
        store = sc._jsc.sc().statusStore()
        mapper = sc._jvm.org.apache.spark.status.api.v1 \
            .JacksonMessageWriter().mapper()
        jobs = json.loads(mapper.writeValueAsString(store.jobsList(None)))
        default_q = getattr(store, "stageList$default$4")()
        stages: dict[int, list[dict]] = {}
        for st in json.loads(mapper.writeValueAsString(store.stageList(
                None, False, False, default_q, None))):
            stages.setdefault(st["stageId"], []).append(st)
        py = self._sql_metrics(mapper)
        phases = [s for s in self.children(root) if s.kind in PHASES]
        for j in sorted(jobs, key=lambda j: j["jobId"]):
            if j["jobId"] in self._seen_jobs:
                continue
            sub = _epoch_ms(j.get("submissionTime"))
            end = _epoch_ms(j.get("completionTime"))
            owner = _innermost(phases, sub)
            if owner is None:
                continue
            self._seen_jobs.add(j["jobId"])
            rec = {"job": j["jobId"], "group": j.get("jobGroup"),
                   "wall_s": (end - sub) / 1000.0 if end and sub else 0.0,
                   "start_ms": sub, "end_ms": end,
                   "stages": 0, "skipped_stages": j.get(
                       "numSkippedStages", 0)}
            for k in _STAGE_KEYS:
                rec[k] = 0
            for sid in j.get("stageIds", []):
                for st in stages.get(sid, ()):
                    if st.get("status") == "SKIPPED":
                        continue
                    rec["stages"] += 1
                    for k in _STAGE_KEYS:
                        rec[k] += st.get(k, 0) or 0
            for k, v in py.get(j["jobId"], {}).items():
                rec[k] = rec.get(k, 0) + v
            owner.jobs.append(rec)

    def _sql_metrics(self, mapper) -> dict[int, dict[str, float]]:
        """job id -> summed ``SQL_METRICS`` of its SQL execution
        (charged to the execution's first job)."""
        sql = self.spark._jsparkSession.sharedState().statusStore()
        execs = sql.executionsList()
        out: dict[int, dict[str, float]] = {}
        for i in range(execs.size()):
            e = execs.apply(i)
            eid = e.executionId()
            if eid in self._seen_execs or e.completionTime().isEmpty():
                continue
            self._seen_execs.add(eid)
            names = {m["accumulatorId"]: SQL_METRICS[m["name"]]
                     for m in json.loads(mapper.writeValueAsString(
                         e.metrics()))
                     if m.get("name") in SQL_METRICS}
            if not names:
                continue
            job_ids = json.loads(mapper.writeValueAsString(e.jobs()))
            if not job_ids:
                continue
            first = min(int(k) for k in job_ids)
            values = sql.executionMetrics(eid)
            acc = out.setdefault(first, {})
            for acc_id, key in names.items():
                if values.contains(acc_id):
                    acc[key] = acc.get(key, 0.0) + _parse_metric(
                        values.apply(acc_id))
        return out


def _innermost(phases: list[Span], epoch_ms: float | None) -> Span | None:
    if epoch_ms is None:
        return None
    best = None
    for s in phases:
        end_ms = s.epoch_ms + s.wall * 1000.0
        # The status store keeps millisecond submission times.
        if s.epoch_ms - 1.0 <= epoch_ms <= end_ms + 1.0:
            best = s                  # later spans are nested deeper
    return best


def _epoch_ms(stamp: str | None) -> float | None:
    if not stamp:
        return None
    t = dt.datetime.strptime(stamp.replace("GMT", "+0000"),
                             "%Y-%m-%dT%H:%M:%S.%f%z")
    return t.timestamp() * 1000.0


def _parse_metric(text: str) -> float:
    """Total of a formatted SQL metric: ``"total (...)\\n5.7 s (...)"``
    or a bare ``"78.7 KiB"``; returns seconds or bytes."""
    line = text.split("\n", 1)[1] if "\n" in text else text
    m = re.match(r"\s*([\d.,]+)\s*([A-Za-z]*)", line)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2), 1)


def union_s(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of [start, end] intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total
