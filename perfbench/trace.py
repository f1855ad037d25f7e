"""In-memory spans and counters for the traced run.

The benchmark wraps public entry points of the engine (and py4j's
``send_command``) with ``Tracer.wrap``; each call becomes a span with a
parent (the innermost open span on the same thread) and an id shared by
the txn, batch or query it belongs to. Spans stay in memory and are
written out once, at the end of the run. Nothing here runs in an
untraced run.
"""

from __future__ import annotations

import functools
import itertools
import json
import os
import threading
import time
from collections import Counter


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict] = []
        self.py4j = 0  # driver→JVM round trips since count_py4j
        self._lock = threading.Lock()
        self._local = threading.local()
        self._ids = itertools.count(1)
        self.py4j_enabled = True
        self.extra: dict = {}  # written out with the spans

    def _stack(self) -> list[dict]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def open(self, name: str, key=None, **attrs) -> dict:
        st = self._stack()
        span = {
            "id": next(self._ids),
            "parent": st[-1]["id"] if st else None,
            "name": name,
            "key": key,
            "t0": time.time(),
            "t1": None,
            "py4j": 0,
            **attrs,
        }
        st.append(span)
        return span

    def close(self, span: dict, **attrs) -> None:
        span["t1"] = time.time()
        span.update(attrs)
        st = self._stack()
        if st and st[-1] is span:
            st.pop()
        with self._lock:
            self.spans.append(span)

    def wrap(self, owner, attr: str, name: str, after=None):
        """Replace ``owner.attr`` with a spanned version;
        ``after(span, result, args, kwargs)`` may add attributes once the
        call returns."""
        inner = getattr(owner, attr)
        tracer = self

        @functools.wraps(inner)
        def spanned(*args, **kwargs):
            span = tracer.open(name)
            ok = False
            try:
                out = inner(*args, **kwargs)
                ok = True
                if after is not None:
                    after(span, out, args, kwargs)
                return out
            finally:
                tracer.close(span, ok=ok)

        setattr(owner, attr, spanned)

    def count_py4j(self) -> None:
        """Count every driver→JVM round trip, globally and on each span
        open on the calling thread."""
        from py4j.clientserver import ClientServerConnection

        inner = ClientServerConnection.send_command
        tracer = self

        def send_command(conn, command, *a, **kw):
            if tracer.py4j_enabled:
                tracer.py4j += 1
                for s in tracer._stack():
                    s["py4j"] += 1
            return inner(conn, command, *a, **kw)

        ClientServerConnection.send_command = send_command

    def named(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name and s["t1"]]

    def self_time(self, span: dict) -> float:
        """Span duration minus the part of it its child spans cover."""
        kids = sorted(
            (c["t0"], c["t1"])
            for c in self.spans
            if c["parent"] == span["id"] and c["t1"]
        )
        covered, end = 0.0, span["t0"]
        for a, b in kids:
            a, b = max(a, end), min(b, span["t1"])
            if b > a:
                covered += b - a
                end = b
        return (span["t1"] - span["t0"]) - covered

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans, "py4j": self.py4j, **self.extra}, f)


def trace_path(args) -> str:
    """Where a traced run writes its spans: ``.perfbench_out/`` in the
    checkout."""
    out = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        ".perfbench_out",
    )
    os.makedirs(out, exist_ok=True)
    return os.path.join(out, f"trace-{args.workload}-{args.seed}.json")


def spark_status(spark, min_job_id: int = -1) -> dict:
    """Jobs, stages, tasks, executor time, shuffle and spill from Spark's
    status store (populated with the UI disabled), for jobs with id >
    ``min_job_id``. ``jobs`` carries each job's description, submission
    time, and the task counts and shuffle bytes written of its completed
    stages, so a caller can attribute jobs to micro-batches or queries."""
    store = spark.sparkContext._jsc.sc().statusStore()
    jobs, stages = [], {}
    # in job order, a stage belongs to the first job that lists it: a
    # later job that reuses its shuffle output lists it too, but skips it
    for j in sorted(_java(spark, store.jobsList(None)), key=lambda j: j.jobId()):
        jid = j.jobId()
        if jid <= min_job_id:
            continue
        desc = j.description()
        sids = [int(s) for s in _java(spark, j.stageIds())]
        new = [s for s in sids if s not in stages]
        for sid in new:
            try:
                stages[sid] = store.lastStageAttempt(sid)
            except Exception:  # noqa: BLE001 — a skipped stage never ran
                stages[sid] = None
        sub = j.submissionTime()
        done = [
            stages[s] for s in new
            if stages[s] is not None
            and stages[s].status().toString() == "COMPLETE"
        ]
        jobs.append({
            "id": jid,
            "submitted_ms": sub.get().getTime() if sub.isDefined() else 0,
            "description": desc.get() if desc.isDefined() else "",
            "tasks": j.numTasks(),
            "stage_tasks": [s.numTasks() for s in done],
            "shuffle_write_bytes": sum(s.shuffleWriteBytes() for s in done),
        })
    tot = Counter()
    for s in stages.values():
        if s is None:
            continue
        tot["executor_run_ms"] += s.executorRunTime()
        tot["shuffle_write_bytes"] += s.shuffleWriteBytes()
        tot["spill_bytes"] += s.memoryBytesSpilled() + s.diskBytesSpilled()
        tot["gc_ms"] += s.jvmGcTime()
    return {
        "jobs": jobs,
        "n_jobs": len(jobs),
        "tasks": sum(j["tasks"] for j in jobs),
        **tot,
    }


def spark_layer(status: dict) -> dict:
    """The ``spark.*`` per-layer metrics from a ``spark_status`` result."""
    return {
        "spark.jobs": (status["n_jobs"], "count"),
        "spark.tasks": (status["tasks"], "count"),
        "spark.executor_run_s": (status.get("executor_run_ms", 0) / 1e3, "s"),
        "spark.shuffle_write_bytes": (status.get("shuffle_write_bytes", 0), "bytes"),
        "spark.spill_bytes": (status.get("spill_bytes", 0), "bytes"),
        "spark.gc_s": (status.get("gc_ms", 0) / 1e3, "s"),
    }


def max_job_id(spark) -> int:
    store = spark.sparkContext._jsc.sc().statusStore()
    return max((j.jobId() for j in _java(spark, store.jobsList(None))), default=-1)


def _java(spark, seq):
    """A Scala collection as an iterable Java list."""
    return spark._jvm.scala.jdk.javaapi.CollectionConverters.asJava(seq)
