"""Spans around the benchmark's calls into the engine, with Spark counters.

Each span runs under its own Spark job group and records only its wall
time while the passes run.  After the measured passes, :meth:`Tracer.resolve`
reads back, per span, the job intervals and per-stage task metrics from
the application status store and, for spans opened with ``sql=True``, the
per-node SQL metrics of the executions its jobs belong to.  Both stores
are filled with the UI off.  Spans stay in memory and are written as JSONL
at the end of the run.

A span's counters cover only the jobs it ran itself; :func:`inclusive`
folds in its descendants.
"""

from __future__ import annotations

import itertools
import json
import re
import time
from collections import defaultdict
from contextlib import contextmanager

_SIZE = {"B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40}
_TIME = {"ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "min": 60.0, "h": 3600.0}
_NUM_UNIT = re.compile(r"^\s*(-?[\d,]+(?:\.\d+)?)\s*([A-Za-z]*)")
_STAGE_KEYS = ("stages", "tasks", "executor_run_s", "shuffle_write_bytes",
               "spill_bytes", "input_bytes", "input_rows")


def parse_sql_metric(text: str | None) -> float | None:
    """Value of one formatted SQL metric, in bytes, seconds or a count.

    The status store keeps metrics as display strings: ``"10,408"``,
    ``"356 ms"``, ``"2.0 s"``, or ``"total (min, med, max ...)\\n650.5 KiB
    (...)"`` for per-task aggregates, whose total is the first number on
    the last line."""
    if not text:
        return None
    m = _NUM_UNIT.match(text.strip().splitlines()[-1])
    if not m:
        return None
    value = float(m.group(1).replace(",", ""))
    unit = m.group(2)
    if unit in _SIZE:
        return value * _SIZE[unit]
    if unit in _TIME:
        return value * _TIME[unit]
    return value


class Tracer:
    """Records spans; ``span`` is a context manager yielding the record."""

    enabled = True

    def __init__(self, spark):
        sc = spark.sparkContext
        self._sc = sc
        self._store = sc._jsc.sc().statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._bus = sc._jsc.sc().listenerBus()
        self._conv = sc._jvm.scala.jdk.javaapi.CollectionConverters
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._ids = itertools.count(1)

    def _seq(self, scala_seq):
        return list(self._conv.asJava(scala_seq))

    @contextmanager
    def span(self, name: str, sql: bool = False, **attrs):
        """Time the block under its own job group.  ``sql=True`` asks
        :meth:`resolve` for the per-node SQL metrics of its executions."""
        parent = self._stack[-1] if self._stack else None
        rec = {
            "id": next(self._ids),
            "name": name,
            "parent": parent["id"] if parent else None,
            "sql_wanted": sql,
            **attrs,
        }
        rec["group"] = f"perfbench-span-{rec['id']}"
        self._stack.append(rec)
        self._sc.setJobGroup(rec["group"], name)
        rec["t0"] = time.time()
        start = time.perf_counter()
        try:
            yield rec
        finally:
            rec["wall_s"] = time.perf_counter() - start
            rec["t1"] = time.time()
            self._stack.pop()
            if parent:
                self._sc.setJobGroup(parent["group"], parent["name"])
            else:
                self._sc._jsc.clearJobGroup()
            self.spans.append(rec)

    def resolve(self) -> None:
        """Attach Spark counters to every span (run after the passes)."""
        self._bus.waitUntilEmpty()
        by_group = {s["group"]: s for s in self.spans}
        tracker = self._sc.statusTracker()
        for s in self.spans:
            s.update(self._job_counters(tracker.getJobIdsForGroup(s["group"])))
        # per-node SQL metrics: an execution belongs to the span of its
        # jobs' group.  A node of a cached plan shows up again in every
        # execution that reads the cache, with the same accumulator, so
        # each accumulator counts once, in the first execution showing it.
        seen: set[int] = set()
        for ex in self._seq(self._sql.executionsList()):
            jobs = sorted(self._conv.asJava(ex.jobs()).keySet())
            if not jobs:
                continue
            group = self._store.job(jobs[0]).jobGroup()
            span = by_group.get(group.get()) if group.isDefined() else None
            if span is None or not span["sql_wanted"]:
                continue
            sql = span.setdefault("sql", defaultdict(float))
            eid = ex.executionId()
            values = self._conv.asJava(self._sql.executionMetrics(eid))
            for node in self._seq(self._sql.planGraph(eid).allNodes()):
                for m in self._seq(node.metrics()):
                    acc = m.accumulatorId()
                    v = parse_sql_metric(values.get(acc))
                    if v is not None and acc not in seen:
                        seen.add(acc)
                        sql[f"{node.name()}/{m.name()}"] += v

    def _job_counters(self, job_ids) -> dict:
        intervals, stages = [], set()
        for jid in job_ids:
            jd = self._store.job(jid)
            sub, done = jd.submissionTime(), jd.completionTime()
            if sub.isDefined() and done.isDefined():
                intervals.append(
                    (sub.get().getTime() / 1e3, done.get().getTime() / 1e3)
                )
            stages.update(self._seq(jd.stageIds()))
        c = dict.fromkeys(_STAGE_KEYS, 0.0)
        for sid in stages:
            sd = self._store.lastStageAttempt(sid)
            if str(sd.status()) == "SKIPPED":
                continue
            c["stages"] += 1
            c["tasks"] += sd.numTasks()
            c["executor_run_s"] += sd.executorRunTime() / 1e3
            c["shuffle_write_bytes"] += sd.shuffleWriteBytes()
            c["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
            c["input_bytes"] += sd.inputBytes()
            c["input_rows"] += sd.inputRecords()
        return {"jobs": len(job_ids), "job_intervals": intervals, **c}

    def write_jsonl(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                s["self_s"] = self_time(self.spans, s)
                fh.write(json.dumps(s, default=str) + "\n")


def children(spans: list[dict], span: dict) -> list[dict]:
    return [s for s in spans if s["parent"] == span["id"]]


def descendants(spans: list[dict], span: dict) -> list[dict]:
    out, todo = [], [span]
    while todo:
        kids = children(spans, todo.pop())
        out += kids
        todo += kids
    return out


def inclusive(spans: list[dict], span: dict, key: str) -> float:
    """A counter summed over the span and all its descendants."""
    return sum(s.get(key, 0.0) for s in [span] + descendants(spans, span))


def inclusive_sql(spans: list[dict], span: dict, metric: str) -> float:
    return sum(
        s.get("sql", {}).get(metric, 0.0)
        for s in [span] + descendants(spans, span)
    )


def self_time(spans: list[dict], span: dict) -> float:
    """Span wall time minus the part of it its children cover."""
    return span["wall_s"] - sum(s["wall_s"] for s in children(spans, span))


def driver_time(spans: list[dict], span: dict) -> float:
    """Span wall time during which none of its (or its descendants')
    Spark jobs was running."""
    ivs = sorted(
        (max(a, span["t0"]), min(b, span["t1"]))
        for s in [span] + descendants(spans, span)
        for a, b in s.get("job_intervals", ())
    )
    busy, cur_a, cur_b = 0.0, None, None
    for a, b in ivs:
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                busy += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        busy += cur_b - cur_a
    return max(0.0, (span["t1"] - span["t0"]) - busy)
