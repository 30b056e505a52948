"""Span tracing for traced runs, with Spark work attributed by job id.

A span records a name, start, end, parent and the operation it belongs
to, plus the range of Spark job ids ``[job_lo, job_hi)`` submitted while
it was open (read from the scheduler's next-job counter). Attribution by
id range, not by job group, also catches jobs submitted from other
threads: the ``availableNow`` ingest streams run their batches on stream
threads that never see the caller's job group.

After each operation, :meth:`Tracer.spark_counts` waits for the listener
bus to drain and reads the operation's jobs and stages from Spark's status
store. Listing jobs are the ones Spark describes as "Listing leaf files
and directories".

Spans stay in memory; :meth:`Tracer.dump` writes them when the run ends.
Wrapping replaces a public function on its module or class for the
duration of the run (:meth:`Tracer.wrap`, undone by :meth:`restore`); an
untraced run wraps nothing.
"""

from __future__ import annotations

import contextlib
import functools
import json
import threading
import time

LISTING = "Listing leaf files and directories"


class Tracer:
    def __init__(self, spark):
        self._sc = spark.sparkContext._jsc.sc()
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._patched: list[tuple[object, str, object]] = []
        self.op: int | None = None
        self.hook_s = 0.0  # time spent inside the tracer's own hooks
        self.counters: dict[str, int] = {}

    def next_job(self) -> int:
        return int(self._sc.dagScheduler().nextJobId())

    @contextlib.contextmanager
    def span(self, name: str):
        if threading.current_thread() is not threading.main_thread():
            yield  # stream threads: their jobs land in the caller's id range
            return
        h0 = time.perf_counter()
        sp = {"name": name, "op": self.op,
              "parent": self._stack[-1] if self._stack else None,
              "job_lo": self.next_job()}
        self.spans.append(sp)
        self._stack.append(len(self.spans) - 1)
        sp["start"] = time.perf_counter()
        self.hook_s += sp["start"] - h0
        try:
            yield
        finally:
            sp["end"] = time.perf_counter()
            sp["job_hi"] = self.next_job()
            self._stack.pop()
            self.hook_s += time.perf_counter() - sp["end"]

    def count(self, name: str) -> None:
        self.counters[name] = self.counters.get(name, 0) + 1

    def wrap(self, owner, attr: str, name: str | None, before=None) -> None:
        """Run ``owner.attr`` under a span named ``name`` (no span when
        None). ``before`` (optional) sees the call's arguments first, for
        counters."""
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            if before is not None:
                before(*args, **kwargs)
            with tracer.span(name) if name else contextlib.nullcontext():
                return orig(*args, **kwargs)

        self._patched.append((owner, attr, orig))
        setattr(owner, attr, traced)

    def restore(self) -> None:
        for owner, attr, orig in reversed(self._patched):
            setattr(owner, attr, orig)
        self._patched.clear()

    def self_times(self, op: int) -> dict[str, float]:
        """Per-name self time (own duration minus direct children) of
        one operation's spans."""
        idx = [i for i, s in enumerate(self.spans) if s["op"] == op]
        child = {i: 0.0 for i in idx}
        for i in idx:
            p = self.spans[i]["parent"]
            if p is not None and p in child:
                child[p] += self.spans[i]["end"] - self.spans[i]["start"]
        out: dict[str, float] = {}
        for i in idx:
            s = self.spans[i]
            out[s["name"]] = out.get(s["name"], 0.0) + (s["end"] - s["start"]) - child[i]
        return out

    def spark_counts(self, job_lo: int, job_hi: int) -> dict[str, float]:
        """Jobs, stages, tasks and bytes of jobs ``[job_lo, job_hi)``
        from the status store. Skipped stages are not counted."""
        self._sc.listenerBus().waitUntilEmpty()
        store = self._sc.statusStore()
        c = dict.fromkeys(["jobs", "listing_jobs", "listing_tasks", "stages", "tasks",
                           "executor_run_s", "input_bytes", "shuffle_read_bytes",
                           "shuffle_write_bytes", "spill_bytes"], 0.0)
        seen: set[int] = set()
        for j in range(job_lo, job_hi):
            job = store.job(j)
            desc = job.description()
            listing = desc.isDefined() and str(desc.get()).startswith(LISTING)
            c["jobs"] += 1
            c["listing_jobs"] += listing
            ids = job.stageIds()
            for k in range(ids.size()):
                sid = ids.apply(k)
                if sid in seen:
                    continue
                seen.add(sid)
                st = store.lastStageAttempt(sid)
                if st.status().toString() != "COMPLETE":
                    continue
                c["stages"] += 1
                c["tasks"] += st.numCompleteTasks()
                if listing:
                    c["listing_tasks"] += st.numCompleteTasks()
                c["executor_run_s"] += st.executorRunTime() / 1000.0
                c["input_bytes"] += st.inputBytes()
                c["shuffle_read_bytes"] += st.shuffleReadBytes()
                c["shuffle_write_bytes"] += st.shuffleWriteBytes()
                c["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
        return c

    def jobs_by_span(self, op: int) -> dict[str, int]:
        """Jobs per span name, each job given to the innermost span whose
        id range holds it."""
        idx = [i for i, s in enumerate(self.spans) if s["op"] == op]
        out: dict[str, int] = {}
        for i in idx:
            s = self.spans[i]
            inner = sum(self.spans[c]["job_hi"] - self.spans[c]["job_lo"]
                        for c in idx if self.spans[c]["parent"] == i)
            out[s["name"]] = out.get(s["name"], 0) + (s["job_hi"] - s["job_lo"]) - inner
        return out

    def dump(self, path: str, extra: dict) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans, **extra}, f)
