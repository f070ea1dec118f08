"""Outside-in tracing for the traced run.

Spans are recorded from the benchmark's own code by wrapping public methods
on the engine's own instances (``obj.method = wrapper`` shadows the class
method for that instance only); nothing in the program changes. Each span
carries name, start, end, parent span and request id — the micro-batch id
of the streaming query whose ``foreachBatch`` thread made the call — plus
the number of Spark jobs that query's job group ran while the span was
open. Spans stay in memory and are written once, when the run ends.
"""

from __future__ import annotations

import functools
import itertools
import json
import threading
import time

from pyspark.sql.streaming import StreamingQueryListener

from model import median


def _median(values: list[float]) -> float:
    return median(values) if values else 0.0


class Tracer:
    """Spans of wrapped method calls, kept in memory until ``write``."""

    def __init__(self, spark, clock=time.perf_counter) -> None:
        self.spark = spark
        self.clock = clock
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._tls = threading.local()
        self._lock = threading.Lock()

    def _jobs(self, group: str | None) -> int | None:
        if not group:
            return None
        return len(self.spark.sparkContext.statusTracker().getJobIdsForGroup(group))

    def wrap(self, obj, attr: str, name: str, measure=None) -> None:
        """Record a span around every call of ``obj.<attr>``. ``measure``,
        if given, is called as ``measure(result, args)`` after the call and
        its dict is stored on the span (bytes written, records, ...)."""
        orig = getattr(obj, attr)
        sc = self.spark.sparkContext

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            stack = getattr(self._tls, "stack", None)
            if stack is None:
                stack = self._tls.stack = []
            group = sc.getLocalProperty("spark.jobGroup.id")
            batch = sc.getLocalProperty("streaming.sql.batchId")
            span = {
                "id": next(self._ids),
                "name": name,
                "parent": stack[-1]["id"] if stack else None,
                "query": group,
                "batch": int(batch) if batch is not None else None,
                "start": self.clock(),
            }
            jobs0 = self._jobs(group)
            stack.append(span)
            try:
                result = orig(*args, **kwargs)
            finally:
                stack.pop()
                span["end"] = self.clock()
                if jobs0 is not None:
                    span["jobs"] = self._jobs(group) - jobs0
                with self._lock:
                    self.spans.append(span)
            if measure is not None:
                span.update(measure(result, args))
            return result

        setattr(obj, attr, traced)

    def write(self, path: str, extra: dict) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans, **extra}, f, default=str)


class ProgressListener(StreamingQueryListener):
    """Collects every ``StreamingQueryProgress`` with the cumulative job
    count of the query's job group (its run id) when it was posted."""

    def __init__(self, spark) -> None:
        self.spark = spark
        self.progress: list[dict] = []
        self._lock = threading.Lock()

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        p = event.progress
        run_id = str(p.runId)
        jobs = len(self.spark.sparkContext.statusTracker().getJobIdsForGroup(run_id))
        with self._lock:
            self.progress.append(
                {
                    "query": run_id,
                    "batch": p.batchId,
                    "rows": p.numInputRows,
                    "duration_ms": dict(p.durationMs),
                    "jobs_total": jobs,
                    "t": time.perf_counter(),
                }
            )

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        pass


def gc_ms(spark) -> int:
    """Total JVM garbage-collection time so far (JMX)."""
    mgmt = spark._jvm.java.lang.management.ManagementFactory
    return sum(max(0, b.getCollectionTime()) for b in mgmt.getGarbageCollectorMXBeans())


def jvm_peak_rss_mb(spark) -> float:
    """Peak resident set size of the driver JVM (VmHWM), in MiB."""
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM not reported")


def layer_metrics(
    spans: list[dict],
    progress: list[dict],
    window: tuple[float, float],
    full_load: tuple[float, float],
    reads: tuple[float, float],
    changed_rows: int,
) -> dict[str, float]:
    """Per-layer numbers of one traced run.

    CDC layers count the spans of micro-batches that started inside
    ``window`` (the timed CDC phase); the full-load sink and ``overwrite``
    count their calls inside ``full_load``; consumer spans count inside
    ``window``, query spans inside ``reads``. Per-call values are medians,
    reported next to their call counts.
    """

    def sel(name: str, batch: bool | None = None, span=window) -> list[dict]:
        return [
            s for s in spans
            if s["name"] == name and span[0] <= s["start"] < span[1]
            and (batch is None or (s["batch"] is not None) == batch)
        ]

    def ms(ss: list[dict]) -> list[float]:
        return [1000.0 * (s["end"] - s["start"]) for s in ss]

    def jobs(ss: list[dict]) -> float:
        return _median([s["jobs"] for s in ss if s.get("jobs") is not None])

    apply_ = sel("apply", batch=True)
    view = sel("apply.register_view", batch=True)
    sink, stats = sel("sink", batch=True), sel("stats", batch=True)
    polls = sel("consumer.get_records")
    appends = [s for s in spans if s["name"] == "feed.append"]
    out = {
        "apply.calls": len(apply_),
        "apply.ms_per_call": _median(ms(apply_)),
        "apply.jobs_per_call": jobs(apply_),
        "apply.register_view_calls": len(view),
        "apply.register_view_ms": _median(ms(view)),
        "apply.bytes_written_per_changed_row": sum(s.get("bytes", 0) for s in apply_)
        / max(1, changed_rows),
        "sink.calls": len(sink),
        "sink.ms_per_call": _median(ms(sink)),
        "sink.jobs_per_call": jobs(sink),
        "sink.bytes_per_record": sum(s.get("bytes", 0) for s in sink)
        / max(1, sum(s.get("records") or 0 for s in sink)),
        # the snapshot append; a CDC task's one-record exceptions bootstrap
        # is not part of the full load
        "sink.full_load_ms": sum(ms([
            s for s in sel("sink", batch=False, span=full_load) if (s.get("records") or 0) > 1
        ])),
        "apply.overwrite_ms": sum(ms(sel("apply.overwrite", span=full_load))),
        "stats.ms_per_call": _median(ms(stats)),
        "stats.jobs_per_call": jobs(stats),
        "ddl.calls": len(sel("ddl")),
        "ddl.ms_per_call": _median(ms(sel("ddl"))),
        "consumer.polls": len(polls),
        "consumer.get_records_ms": _median(ms(polls)),
        "consumer.useful_poll_ratio": sum(1 for s in polls if s.get("records"))
        / max(1, len(polls)),
        "feed.append_ms": _median(ms(appends)),
        "query.calls": len(sel("query", span=reads)),
        "query.ms_per_call": _median(ms(sel("query.result", span=reads))),
        "query.refresh_calls": len(sel("query.refresh", span=reads)),
        "query.refresh_ms": _median(ms(sel("query.refresh", span=reads))),
    }

    # micro-batches: non-empty batches whose foreachBatch spans ran in the
    # window; jobs per batch is the job-group delta since the query's
    # previous progress event; unattributed = addBatch minus the batch's
    # top-level layer spans (isEmpty, persist, DDL/drop collects, ...)
    prev_jobs: dict[str, int] = {}
    batches = []
    for p in sorted(progress, key=lambda p: p["t"]):
        delta = p["jobs_total"] - prev_jobs.get(p["query"], 0)
        prev_jobs[p["query"]] = p["jobs_total"]
        if p["rows"]:
            batches.append({**p, "jobs": delta})
    top_level: dict[tuple[str, int], float] = {}
    for s in spans:
        in_window = window[0] <= s["start"] < window[1]
        if in_window and s["parent"] is None and s["batch"] is not None and s["query"]:
            key = (s["query"], s["batch"])
            top_level[key] = top_level.get(key, 0.0) + 1000.0 * (s["end"] - s["start"])
    batches = [b for b in batches if (b["query"], b["batch"]) in top_level]
    d = lambda k: [b["duration_ms"].get(k, 0) for b in batches]  # noqa: E731
    out.update(
        {
            "task.batches": len(batches),
            "task.rows_per_batch": _median([b["rows"] for b in batches]),
            "task.jobs_per_batch": _median([b["jobs"] for b in batches]),
            "task.trigger_ms": _median(d("triggerExecution")),
            "task.addbatch_ms": _median(d("addBatch")),
            "task.walcommit_ms": _median(d("walCommit")),
            "task.planning_ms": _median(d("queryPlanning")),
            "task.unattributed_ms": _median(
                [
                    b["duration_ms"].get("addBatch", 0) - top_level[(b["query"], b["batch"])]
                    for b in batches
                ]
            ),
        }
    )
    return out
