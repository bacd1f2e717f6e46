"""Reads Spark's own status store (jobs, stages, SQL executions) through
py4j, so every per-layer Spark number comes from the engine's counters.

Works with ``spark.ui.enabled=false``: the status listener runs without
the UI. Records are serialised to JSON on the JVM side in one call each.
"""

from __future__ import annotations

import json
import re
from dataclasses import dataclass, field

from py4j.protocol import Py4JJavaError

# SQL metric names (as Spark's Python exec nodes label them) -> our names
PYTHON_METRICS = {
    "data sent to Python workers": "python_bytes_sent",
    "data returned from Python workers": "python_bytes_returned",
    "time to run Python workers": "python_run_s",
}
_UNITS = {
    "B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40,
    "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
}
_TOTAL = re.compile(r"([0-9.]+) (B|KiB|MiB|GiB|TiB|ms|s|m|h)\b")


def parse_metric(text: str) -> float:
    """Total of a rendered SQL metric ('2.0 s (465 ms, ...)', '152.7 KiB'),
    in bytes or seconds. Spark renders the total first."""
    body = text.split("\n", 1)[-1]
    m = _TOTAL.search(body)
    if m is None:
        raise ValueError(f"unrecognised SQL metric value: {text!r}")
    return float(m.group(1)) * _UNITS[m.group(2)]


@dataclass
class StageStat:
    stage_id: int
    start: float  # seconds since the epoch
    end: float
    tasks: int
    executor_run_s: float
    executor_cpu_s: float
    input_bytes: int
    input_records: int
    output_bytes: int
    shuffle_read_bytes: int
    shuffle_write_bytes: int
    spill_bytes: int


@dataclass
class JobStat:
    job_id: int
    submitted: float  # seconds since the epoch
    stages: list[StageStat] = field(default_factory=list)


class StatusReader:
    """Returns the jobs and SQL executions completed since the last call.
    Job ids are consecutive, so each call reads only the new records."""

    def __init__(self, spark) -> None:
        sc = spark.sparkContext
        jvm = sc._jvm
        self._sc = sc._jsc.sc()
        self._store = self._sc.statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        scala = jvm.com.fasterxml.jackson.module.scala
        self._mapper.registerModule(getattr(getattr(scala, "DefaultScalaModule$"), "MODULE$"))
        self._next_job = 0
        self.new_jobs()  # skip everything that ran before the reader
        self._next_exec = self._sql.executionsCount()

    def _json(self, obj):
        return json.loads(self._mapper.writeValueAsString(obj))

    def drain(self) -> None:
        """Wait until the listener bus has delivered every event so far."""
        self._sc.listenerBus().waitUntilEmpty()

    def _stage(self, stage_id: int) -> StageStat | None:
        s = self._json(self._store.lastStageAttempt(stage_id))
        if s["status"] != "COMPLETE":  # skipped: its shuffle output was reused
            return None
        return StageStat(
            s["stageId"], s["submissionTime"] / 1e3, s["completionTime"] / 1e3,
            s["numTasks"], s["executorRunTime"] / 1e3, s["executorCpuTime"] / 1e9,
            s["inputBytes"], s["inputRecords"], s["outputBytes"], s["shuffleReadBytes"],
            s["shuffleWriteBytes"], s["memoryBytesSpilled"] + s["diskBytesSpilled"],
        )

    def new_jobs(self) -> list[JobStat]:
        self.drain()
        jobs: list[JobStat] = []
        while True:
            try:
                j = self._json(self._store.job(self._next_job))
            except Py4JJavaError:  # NoSuchElementException: no such job yet
                break
            stages = [self._stage(sid) for sid in j["stageIds"]]
            jobs.append(JobStat(j["jobId"], (j["submissionTime"] or 0) / 1e3,
                                [s for s in stages if s is not None]))
            self._next_job += 1
        return jobs

    def new_python_metrics(self) -> dict[str, float]:
        """Python-worker totals over the SQL executions since the last call."""
        self.drain()
        out = dict.fromkeys(PYTHON_METRICS.values(), 0.0)
        count = self._sql.executionsCount()
        execs = self._sql.executionsList(self._next_exec, count - self._next_exec)
        self._next_exec = count
        for i in range(execs.size()):
            e = execs.apply(i)
            names = {m["accumulatorId"]: m["name"] for m in self._json(e.metrics())}
            for acc, text in self._json(self._sql.executionMetrics(e.executionId())).items():
                key = PYTHON_METRICS.get(names.get(int(acc), ""))
                if key:
                    out[key] += parse_metric(text)
        return out
