"""Spans, Spark job groups, py4j command counts and stage metrics, all
recorded from outside the engine.

A span is one timed call into a layer's public function. Each span runs
under its own Spark job group, so every job it launches can be found
afterwards through ``statusTracker().getJobIdsForGroup``. Job and stage
metrics come from the driver's local UI REST API and are read once per
operation, after the operation has returned, so the reads never fall
inside a timed window. Spans stay in memory until ``Tracer.dump``.
"""

from __future__ import annotations

import contextlib
import datetime as dt
import itertools
import json
import time
import urllib.request
from dataclasses import asdict, dataclass, field

#: stage statuses that carry the metrics of work actually done
_DONE_STAGE = {"COMPLETE", "FAILED"}


@dataclass
class Span:
    span_id: int
    name: str
    parent: int | None
    run_id: str
    start: float
    end: float = 0.0
    job_group: str = ""
    job_ids: list[int] = field(default_factory=list)
    py4j_calls: int | None = None


@dataclass
class JobStats:
    """Totals over a set of Spark jobs, from the UI REST API."""

    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    input_bytes: int = 0
    output_records: int = 0
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    executor_run_s: float = 0.0
    gc_s: float = 0.0


def _epoch(ts: str) -> float:
    return dt.datetime.strptime(ts, "%Y-%m-%dT%H:%M:%S.%f%Z").replace(
        tzinfo=dt.timezone.utc
    ).timestamp()


def union_seconds(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of ``(start, end)`` intervals."""
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


class Py4jCounter:
    """Counts commands the Python driver sends to the JVM gateway."""

    def __init__(self, spark):
        self._client = spark.sparkContext._gateway._gateway_client
        self.count = 0

    @contextlib.contextmanager
    def counting(self):
        client = self._client
        send = client.send_command

        def counted(*args, **kwargs):
            self.count += 1
            return send(*args, **kwargs)

        client.send_command = counted
        try:
            yield
        finally:
            del client.send_command


class StageMetrics:
    """Reads job and stage records from the driver's UI REST API."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self._base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"

    def _get(self, path: str):
        with urllib.request.urlopen(self._base + path, timeout=30) as resp:
            return json.load(resp)

    def warm_up(self) -> None:
        """The first REST call pays the UI's lazy start-up (seconds)."""
        self._get("/jobs")
        self._get("/stages")

    def snapshot(self, job_ids: list[int], timeout_s: float = 20.0) -> "Snapshot":
        """Job and stage records covering ``job_ids``, once the status
        listener has recorded every one of them as finished."""
        wanted = set(job_ids)
        deadline = time.monotonic() + timeout_s
        while True:
            jobs = {j["jobId"]: j for j in self._get("/jobs") if j["jobId"] in wanted}
            stage_ids = {s for j in jobs.values() for s in j["stageIds"]}
            stages = [s for s in self._get("/stages") if s["stageId"] in stage_ids]
            if (
                len(jobs) == len(wanted)
                and all("completionTime" in j for j in jobs.values())
                and not any(s["status"] in ("ACTIVE", "PENDING") for s in stages)
            ):
                return Snapshot(jobs, stages)
            if time.monotonic() > deadline:
                raise RuntimeError(f"job metrics for {sorted(wanted)} did not settle")
            time.sleep(0.05)


class Snapshot:
    def __init__(self, jobs: dict[int, dict], stages: list[dict]):
        self.jobs = jobs
        self.stages = stages

    def stats(self, job_ids: list[int]) -> tuple[JobStats, list[tuple[float, float]]]:
        """Totals over ``job_ids`` plus each job's (start, end) in epoch seconds."""
        jobs = [self.jobs[j] for j in job_ids]
        stage_ids = {s for j in jobs for s in j["stageIds"]}
        intervals = [
            (_epoch(j["submissionTime"]), _epoch(j["completionTime"])) for j in jobs
        ]
        st = JobStats(jobs=len(jobs))
        for s in self.stages:
            if s["stageId"] not in stage_ids or s["status"] not in _DONE_STAGE:
                continue
            st.stages += 1
            st.tasks += s["numCompleteTasks"] + s["numFailedTasks"]
            st.input_bytes += s["inputBytes"]
            st.output_records += s["outputRecords"]
            st.shuffle_read_bytes += s["shuffleReadBytes"]
            st.shuffle_write_bytes += s["shuffleWriteBytes"]
            st.spill_bytes += s["memoryBytesSpilled"]
            st.executor_run_s += s["executorRunTime"] / 1000.0
            st.gc_s += s["jvmGcTime"] / 1000.0
        return st, intervals


class Tracer:
    """In-memory spans; each span runs under its own Spark job group."""

    def __init__(self, spark, run_id: str):
        self._sc = spark.sparkContext
        self.run_id = run_id
        self.spans: list[Span] = []
        self._ids = itertools.count()
        self._stack: list[Span] = []
        self.py4j = Py4jCounter(spark)
        self.rest = StageMetrics(spark)

    def _set_group(self, span: Span | None) -> None:
        if span is None:
            self._sc.setLocalProperty("spark.jobGroup.id", None)
            self._sc.setLocalProperty("spark.job.description", None)
        else:
            self._sc.setJobGroup(span.job_group, span.name)

    @contextlib.contextmanager
    def span(self, name: str, count_py4j: bool = False):
        parent = self._stack[-1] if self._stack else None
        sp = Span(
            span_id=next(self._ids),
            name=name,
            parent=parent.span_id if parent else None,
            run_id=self.run_id,
            start=0.0,
        )
        sp.job_group = f"{self.run_id}/{sp.span_id}"
        self.spans.append(sp)
        self._stack.append(sp)
        self._set_group(sp)
        before = self.py4j.count
        counter = self.py4j.counting() if count_py4j else contextlib.nullcontext()
        try:
            with counter:
                sp.start = time.time()
                try:
                    yield sp
                finally:
                    sp.end = time.time()
        finally:
            if count_py4j:
                sp.py4j_calls = self.py4j.count - before
            self._stack.pop()
            self._set_group(self._stack[-1] if self._stack else None)

    def collect_jobs(self, spans: list[Span]) -> None:
        """Attach job ids to spans; call after the operation returned."""
        tracker = self._sc.statusTracker()
        for sp in spans:
            sp.job_ids = sorted(tracker.getJobIdsForGroup(sp.job_group))

    def subtree(self, root: Span) -> list[Span]:
        """``root`` and every span below it."""
        out, frontier = [root], {root.span_id}
        for sp in self.spans:
            if sp.parent in frontier:
                out.append(sp)
                frontier.add(sp.span_id)
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for sp in self.spans:
                fh.write(json.dumps(asdict(sp)) + "\n")
