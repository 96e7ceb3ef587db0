"""Spans, Spark scheduling counters and engine instrumentation for the
traced run.

A span is (name, start, end, parent, iteration) plus the Spark jobs,
stages and tasks that ran while it was open. Spans nest; a span's self
time is its duration minus the time covered by its child spans. Spans are
kept in memory and written out once, at the end of the run.

Jobs are attributed to spans by job id: ids are handed out in order by the
one SparkContext, and the benchmark is its only client, so the jobs that
ran inside a span are exactly the ids issued between its start and its
end. This also counts the jobs that streaming micro-batches run on the
stream's own thread, which a thread-local job group does not see. Each
span also sets the job group of the calling thread, so the groups name
the spans in Spark's own status store.
"""

from __future__ import annotations

import contextlib
import json
import threading
import time

from pyspark.sql.streaming import StreamingQueryListener


class Tracer:
    def __init__(self, spark, enabled: bool):
        self.sc = spark.sparkContext
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._next_job = 0
        self.iteration = "setup"
        #: seconds spent in the tracer's own bookkeeping this iteration
        self.bookkeeping_s = 0.0

    def start_iteration(self, iteration: str) -> None:
        self.iteration = iteration
        self.bookkeeping_s = 0.0

    def _probe_next_job(self) -> int:
        tracker = self.sc.statusTracker()
        k = self._next_job
        while tracker.getJobInfo(k) is not None:
            k += 1
        return k

    def _counters(self, first: int, end: int) -> dict:
        tracker = self.sc.statusTracker()
        stages = tasks = 0
        for jid in range(first, end):
            info = tracker.getJobInfo(jid)
            for sid in info.stageIds if info else ():
                st = tracker.getStageInfo(sid)
                ran = st.numCompletedTasks + st.numFailedTasks if st else 0
                if ran:
                    stages += 1
                    tasks += ran
        return {"jobs": end - first, "stages": stages, "tasks": tasks}

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        """Time ``name``; yields a dict the caller may add attributes to."""
        rec = {"name": name, "iteration": self.iteration, **attrs}
        if not self.enabled:
            yield rec
            return
        t0 = time.perf_counter()
        rec["parent"] = self._stack[-1] if self._stack else None
        idx = len(self.spans)
        self.spans.append(rec)
        self._stack.append(idx)
        self.sc.setJobGroup(f"perfbench:{self.iteration}:{name}", name)
        first = self._next_job = self._probe_next_job()
        rec["start"] = time.perf_counter()
        self.bookkeeping_s += rec["start"] - t0
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            self._next_job = self._probe_next_job()
            rec.update(self._counters(first, self._next_job))
            parent = self.spans[self._stack[-1]]["name"] if self._stack else None
            self.sc.setJobGroup(f"perfbench:{self.iteration}:{parent}", str(parent))
            self.bookkeeping_s += time.perf_counter() - rec["end"]

    def finish(self) -> None:
        """Derive each span's duration and self time."""
        child_s: dict[int, float] = {}
        for rec in self.spans:
            rec["dur_s"] = rec["end"] - rec["start"]
            if rec["parent"] is not None:
                child_s[rec["parent"]] = child_s.get(rec["parent"], 0.0) + rec["dur_s"]
        for i, rec in enumerate(self.spans):
            rec["self_s"] = rec["dur_s"] - child_s.get(i, 0.0)

    def select(self, name: str, iteration: str | None = None) -> list[dict]:
        return [
            r for r in self.spans
            if r["name"] == name and (iteration is None or r["iteration"] == iteration)
        ]

    def total(self, name: str, key: str = "dur_s", iteration: str | None = None) -> float:
        return sum(r.get(key, 0) for r in self.select(name, iteration))

    def write(self, path: str) -> None:
        t0 = min((r["start"] for r in self.spans), default=0.0)
        with open(path, "w") as fh:
            for i, r in enumerate(self.spans):
                out = dict(r, id=i, start=r["start"] - t0, end=r["end"] - t0)
                fh.write(json.dumps(out, default=str) + "\n")


class BatchListener(StreamingQueryListener):
    """Micro-batch progress of every streaming query, keyed by run id:
    batches with input rows and their trigger durations."""

    def __init__(self):
        self.lock = threading.Lock()
        self.progress: dict[str, list[dict]] = {}
        self.terminated: set[str] = set()

    def onQueryStarted(self, event):
        with self.lock:
            self.progress.setdefault(str(event.runId), [])

    def onQueryProgress(self, event):
        p = event.progress
        with self.lock:
            self.progress.setdefault(str(p.runId), []).append(
                {
                    "batch_id": p.batchId,
                    "rows": p.numInputRows,
                    "ms": p.durationMs.get("triggerExecution", 0),
                }
            )

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        with self.lock:
            self.terminated.add(str(event.runId))

    def take(self, known: set[str], timeout_s: float = 5.0) -> list[dict]:
        """Progress of the queries that started since ``known`` was taken,
        once they have all reported termination."""
        deadline = time.time() + timeout_s
        while True:
            with self.lock:
                new = [r for r in self.progress if r not in known]
                done = all(r in self.terminated for r in new)
                if new and done or time.time() > deadline:
                    known.update(new)
                    return [b for r in new for b in self.progress[r] if b["rows"]]
            time.sleep(0.02)


def instrument_store(tracer: Tracer, store_cls) -> None:
    """Wrap the SnapshotStore methods the pipeline calls so each call is a
    span: commits, read planning (``files_for``, with opened vs. candidate
    file counts) and row-level deletes."""
    originals = {
        name: getattr(store_cls, name)
        for name in ("commit_partitions", "files_for", "delete_where")
    }

    def commit_partitions(self, partitions, *a, **kw):
        with tracer.span("snapshots.commit", partitions=len(partitions)):
            return originals["commit_partitions"](self, partitions, *a, **kw)

    def files_for(self, snapshot_id=None, prefix=None, ranges=None, eq=None):
        with tracer.span("snapshots.read_plan") as rec:
            kept = originals["files_for"](self, snapshot_id, prefix, ranges, eq)
        t0 = time.perf_counter()
        cand = originals["files_for"](self, snapshot_id, prefix) if ranges or eq else kept
        rec["files_opened"] = len(kept)
        rec["files_candidate"] = len(cand)
        tracer.bookkeeping_s += time.perf_counter() - t0
        return kept

    def delete_where(self, *a, **kw):
        with tracer.span("snapshots.delete"):
            return originals["delete_where"](self, *a, **kw)

    store_cls.commit_partitions = commit_partitions
    store_cls.files_for = files_for
    store_cls.delete_where = delete_where
