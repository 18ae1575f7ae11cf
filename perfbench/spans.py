"""Tracing: spans around the benchmark's calls into the program, and Spark's
own per-job counters read from the status store.

Both are off unless the run is traced. Spans are kept in memory and written
out when the run ends.
"""

from __future__ import annotations

import contextlib
import json
import time


class Tracer:
    """Records (name, start, end, parent, op) spans; a disabled tracer
    records nothing and costs one attribute check per call."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.op: str | None = None

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        idx = len(self.spans)
        rec = {
            "name": name,
            "op": self.op,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.perf_counter(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump(self.spans, fh)


STAGE_SUMS = {
    "executor_run_ms": "executorRunTime",
    "executor_cpu_ns": "executorCpuTime",
    "gc_ms": "jvmGcTime",
    "shuffle_read_bytes": "shuffleReadBytes",
    "shuffle_write_bytes": "shuffleWriteBytes",
    "input_bytes": "inputBytes",
    "output_bytes": "outputBytes",
    "input_records": "inputRecords",
    "output_records": "outputRecords",
}


class SparkCounters:
    """Per-job-group counters from ``SparkContext.statusStore()``.

    The store keeps only the most recent jobs and stages, so callers read
    it per op, right after the op. Each job and stage is fetched as one
    JSON string to keep py4j round trips few."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        jsc = self.sc._jsc.sc()
        self._bus = jsc.listenerBus()
        self._store = jsc.statusStore()
        jvm = self.sc._jvm
        self._mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        scala = getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$")
        self._mapper.registerModule(getattr(scala, "MODULE$"))

    def job_ids(self, group: str) -> list[int]:
        self._bus.waitUntilEmpty()
        return sorted(self.sc.statusTracker().getJobIdsForGroup(group))

    def _json(self, obj) -> dict:
        return json.loads(self._mapper.writeValueAsString(obj))

    def jobs(self, job_ids, window_ms=None) -> dict:
        """Summed counters over ``job_ids``; job intervals in epoch ms.
        With ``window_ms`` = (start, end), only jobs submitted inside it."""
        out = {"jobs": 0, "stages": 0, "tasks": 0, "intervals": []}
        out.update({k: 0 for k in STAGE_SUMS})
        seen = set()
        for jid in job_ids:
            job = self._json(self._store.job(jid))
            if window_ms and not window_ms[0] <= job["submissionTime"] <= window_ms[1]:
                continue
            out["jobs"] += 1
            if job.get("submissionTime") and job.get("completionTime"):
                out["intervals"].append((job["submissionTime"], job["completionTime"]))
            for sid in job["stageIds"]:
                if sid in seen:
                    continue
                seen.add(sid)
                stage = self._json(self._store.lastStageAttempt(sid))
                if stage["status"] == "SKIPPED":
                    continue
                out["stages"] += 1
                out["tasks"] += stage["numCompleteTasks"]
                for key, field in STAGE_SUMS.items():
                    out[key] += stage[field]
        return out


def uncovered_ms(start_s: float, end_s: float, intervals_ms) -> float:
    """Length of [start_s, end_s] (epoch seconds) not covered by any of
    ``intervals_ms`` (epoch ms): the driver-side time of an op."""
    lo, hi = start_s * 1000.0, end_s * 1000.0
    covered, cur = 0.0, lo
    for a, b in sorted(intervals_ms):
        a, b = max(a, cur), min(b, hi)
        if b > a:
            covered += b - a
            cur = b
    return max(0.0, hi - lo - covered)
