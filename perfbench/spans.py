"""Outside-in span tracing: attribute Spark work to a wrapped public call.

A span brackets one call into the package.  Spark work is attributed to
it by the job IDs the scheduler handed out while the call ran: the
DAGScheduler's next-job counter is read before and after, and every job
in that half-open range belongs to the span.  The range is immune to how
the call submits its jobs, including the ``functions.jobs.run_overlapped``
pool threads, which do not inherit the caller's job group.  Job and stage
details come from the local UI REST API after the listener bus has
drained.  A span whose jobs or stages the UI has already evicted
(``spark.ui.retainedJobs`` / ``retainedStages``) raises instead of
under-counting.

Per span call the fields are:

- ``wall_s``: wall time of the call;
- ``jobs``, ``stages``, ``stages_skipped``, ``tasks``: scheduler rounds
  (stages per job as the UI counts them, skipped ones included);
- ``exec_run_s``: summed executor run time of the span's tasks;
- ``shuffle_mb``, ``spill_mb``: shuffle bytes written and bytes spilled
  to disk, in 1e6 bytes;
- ``driver_s``: wall time during which none of the span's jobs ran;
- ``job_overlap``: summed job durations over the union of job intervals
  (1.0 = jobs ran back to back, 0 = no jobs).

A metric is the median over the span's calls in one run.  Spans nest: a
parent's figures include its children's work.  While the workload runs, a
span only notes its job-ID range and its start and end; :meth:`Tracer.resolve`
reads the UI once the workload is done, so no tracer I/O falls inside any
span (and none inside a parent span's ``driver_s``).
"""

from __future__ import annotations

import json
import statistics
import time
import urllib.request
from collections import defaultdict
from contextlib import contextmanager
from datetime import datetime, timezone

FIELDS = (
    "wall_s", "jobs", "stages", "stages_skipped", "tasks", "exec_run_s",
    "shuffle_mb", "spill_mb", "driver_s", "job_overlap",
)


def next_job_id(sc) -> int:
    """The DAGScheduler's next job ID (an AtomicInteger, which py4j hands
    over as a Python int): jobs submitted between two reads are exactly
    the IDs in between."""
    return int(sc._jsc.sc().dagScheduler().nextJobId())


class EvictedError(RuntimeError):
    """The UI no longer holds a job or stage of a span."""


def _epoch(ts: str | None) -> float | None:
    if not ts:
        return None
    # e.g. "2026-10-17T02:41:45.527GMT"
    d = datetime.strptime(ts[:-3], "%Y-%m-%dT%H:%M:%S.%f")
    return d.replace(tzinfo=timezone.utc).timestamp()


def _union(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


class Tracer:
    """Records spans for one SparkSession at a time (:meth:`bind` again
    after a session restart).  ``active`` switches recording off without
    unwrapping, so traced and untraced calls can alternate in one run."""

    def __init__(self) -> None:
        self.active = True
        self.samples: dict[str, dict[str, list[float]]] = defaultdict(
            lambda: defaultdict(list)
        )
        self.sc = None
        self._pending: list = []  # spans and callbacks resolve() settles

    def bind(self, spark) -> None:
        self.sc = spark.sparkContext
        self._api = (
            f"{self.sc.uiWebUrl}/api/v1/applications/{self.sc.applicationId}"
        )

    # -- raw sources ---------------------------------------------------
    def _get(self, path: str):
        with urllib.request.urlopen(self._api + path, timeout=60) as r:
            return json.load(r)

    # -- recording -----------------------------------------------------
    def record(self, name: str, field: str, value: float) -> None:
        if self.active:
            self.samples[name][field].append(float(value))

    @contextmanager
    def span(self, name: str, fields=FIELDS):
        if not self.active or self.sc is None:
            yield
            return
        first = next_job_id(self.sc)
        t0 = time.time()
        yield
        t1 = time.time()
        self._pending.append((name, fields, first, next_job_id(self.sc), t0, t1))

    def resolve(self) -> None:
        """Turn every span noted so far into samples: wait for the
        listener bus to drain, read all jobs and stages from the UI once,
        and run the deferred ``after`` callbacks of :meth:`wrap`.  Call it
        after the workload's last span and before the session stops."""
        pending, self._pending = self._pending, []
        jobs = stages = None
        if any(p[2] != p[3] for p in pending if isinstance(p, tuple)):
            self.sc._jsc.sc().listenerBus().waitUntilEmpty()
            jobs = {j["jobId"]: j for j in self._get("/jobs")}
            stages = {s["stageId"]: s for s in self._get("/stages")}
        for p in pending:
            if callable(p):
                p()
                continue
            name, fields, first, last, t0, t1 = p
            for k, v in _stats(name, first, last, t0, t1, jobs, stages).items():
                if k in fields:
                    self.samples[name][k].append(v)

    def wrap(self, fn, name: str, after=None):
        """``fn`` wrapped in a span; ``after(args, result)`` may record
        extra fields of the same span, and runs in :meth:`resolve`."""

        def wrapped(*args, **kwargs):
            with self.span(name):
                result = fn(*args, **kwargs)
            if after is not None and self.active:
                self._pending.append(lambda: after(args, result))
            return result

        return wrapped

    def medians(self) -> dict[str, float]:
        return {
            f"{span}.{field}": statistics.median(vals)
            for span, by_field in self.samples.items()
            for field, vals in by_field.items()
        }


def _stats(name, first, last, t0, t1, all_jobs, all_stages) -> dict[str, float]:
    """A span's fields from its job-ID range ``[first, last)`` and the
    UI's job and stage records."""
    out = dict.fromkeys(FIELDS, 0.0)
    out["wall_s"] = out["driver_s"] = t1 - t0
    if last == first:
        return out
    missing = [i for i in range(first, last) if i not in all_jobs]
    if missing:
        raise EvictedError(
            f"span {name}: jobs {missing[:5]} no longer in the UI store; "
            "raise spark.ui.retainedJobs"
        )
    jobs = [all_jobs[i] for i in range(first, last)]
    stage_ids = {s for j in jobs for s in j["stageIds"]}
    if stage_ids - set(all_stages):
        raise EvictedError(
            f"span {name}: stages of jobs {first}..{last - 1} no longer "
            "in the UI store; raise spark.ui.retainedStages"
        )
    ran = [all_stages[s] for s in stage_ids if all_stages[s]["status"] != "SKIPPED"]
    spans = []
    for j in jobs:
        a = _epoch(j.get("submissionTime")) or t0
        b = _epoch(j.get("completionTime")) or t1
        spans.append((max(a, t0), min(max(b, a), t1)))
    busy = _union(spans)
    out.update(
        jobs=len(jobs),
        stages=sum(len(j["stageIds"]) for j in jobs),
        stages_skipped=sum(j["numSkippedStages"] for j in jobs),
        tasks=sum(
            s["numCompleteTasks"] + s["numFailedTasks"] + s["numKilledTasks"]
            for s in ran
        ),
        exec_run_s=sum(s["executorRunTime"] for s in ran) / 1e3,
        shuffle_mb=sum(s["shuffleWriteBytes"] for s in ran) / 1e6,
        spill_mb=sum(s["diskBytesSpilled"] for s in ran) / 1e6,
        driver_s=max(0.0, (t1 - t0) - busy),
        job_overlap=(sum(b - a for a, b in spans) / busy) if busy else 0.0,
    )
    return out
