"""Span recording for the traced run.

A ``Tracer`` records a span (name, start, end, parent, run id) around each
public layer call the benchmark makes. While enabled it also:

- tags the Spark jobs a span starts with a job group of its own, so the
  status tracker can count the jobs, stages, tasks and failed tasks each
  span caused;
- records the py4j commands the driver sent inside each span (a traced
  run wraps ``ClientServerConnection.send_command`` to count them);
- materialises a layer's output at its boundary (``boundary``), so the
  executor time of a lazy layer lands in that layer's span instead of in
  whichever later call happens to run the job.

While disabled ``span`` and ``count`` do nothing and ``boundary`` returns
its argument unchanged, so untraced passes execute the same calls.
"""

from __future__ import annotations

import contextlib
import itertools
import json
import time


class Py4jCounter:
    """Counts py4j commands sent from this process while installed."""

    def __init__(self):
        self.n = 0
        self._orig = None

    def install(self):
        import py4j.clientserver as cs

        self._orig = cs.ClientServerConnection.send_command
        orig, counter = self._orig, self

        def counted(conn, command, *a, **kw):
            counter.n += 1
            return orig(conn, command, *a, **kw)

        cs.ClientServerConnection.send_command = counted

    def uninstall(self):
        if self._orig is not None:
            import py4j.clientserver as cs

            cs.ClientServerConnection.send_command = self._orig
            self._orig = None


class Tracer:
    """``active``: this is a traced run (py4j counting installed).
    ``enabled``: record spans now; the runner turns it on only for the
    passes it traces."""

    def __init__(self, active: bool, run_id: str):
        self.active = active
        self.enabled = False
        self.run_id = run_id
        self.spans: list[dict] = []
        self.counts: dict[str, float] = {}
        self._stack: list[dict] = []
        self._ids = itertools.count()
        self._sc = None
        self.py4j = Py4jCounter()

    def attach(self, spark) -> None:
        """Bind to a live session (job groups need its SparkContext)."""
        self._sc = spark.sparkContext
        if self.active and self.py4j._orig is None:
            self.py4j.install()

    def close(self) -> None:
        self.py4j.uninstall()

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        sid = next(self._ids)
        parent = self._stack[-1] if self._stack else None
        rec = {
            "id": sid,
            "name": name,
            "parent": parent["id"] if parent else None,
            "run_id": self.run_id,
            "group": f"{self.run_id}-{sid}",
            **attrs,
        }
        self._stack.append(rec)
        if self._sc is not None:
            self._sc.setJobGroup(rec["group"], name)
        calls0 = self.py4j.n
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            rec["py4j_calls"] = self.py4j.n - calls0
            self._stack.pop()
            if self._sc is not None:
                if parent is not None:
                    self._sc.setJobGroup(parent["group"], parent["name"])
                else:
                    self._sc.setLocalProperty("spark.jobGroup.id", None)
                    self._sc.setLocalProperty("spark.job.description", None)
            self.spans.append(rec)

    def boundary(self, df):
        """Materialise ``df`` inside the current span (traced runs only).
        The returned frame reads the materialised rows, so later layers do
        not recompute this one."""
        if not self.enabled:
            return df
        return df.localCheckpoint(eager=True)

    def count(self, name: str, value: float) -> None:
        """Accumulate a layer count (traced runs only)."""
        if self.enabled:
            self.counts[name] = self.counts.get(name, 0.0) + float(value)

    def collect_job_stats(self) -> None:
        """Attach Spark job/stage/task counts to every span from the
        status tracker. Call once, after the traced work and before the
        session stops; the tracker keeps the most recent 1000 jobs."""
        if self._sc is None:
            return
        tracker = self._sc.statusTracker()
        for rec in self.spans:
            jobs = stages = tasks = failed = 0
            # a streaming query runs its micro-batches on a thread of its
            # own, under a job group named after the query's run id
            ids = set()
            for group in (rec["group"], *rec.get("job_groups", ())):
                ids.update(tracker.getJobIdsForGroup(group))
            for jid in sorted(ids):
                info = tracker.getJobInfo(jid)
                if info is None:
                    continue
                jobs += 1
                for st in info.stageIds:
                    s = tracker.getStageInfo(st)
                    if s is None:
                        continue
                    stages += 1
                    tasks += s.numTasks
                    failed += s.numFailedTasks
            rec.update(jobs=jobs, stages=stages, tasks=tasks, failed_tasks=failed)

    def self_times(self) -> dict[int, float]:
        """Span id -> self time in seconds: the span's duration minus the
        part of its interval its child spans cover."""
        children: dict[int, list[dict]] = {}
        for rec in self.spans:
            if rec["parent"] is not None:
                children.setdefault(rec["parent"], []).append(rec)
        out = {}
        for rec in self.spans:
            covered, cursor = 0.0, rec["start"]
            for ch in sorted(children.get(rec["id"], []), key=lambda r: r["start"]):
                lo, hi = max(ch["start"], cursor), min(ch["end"], rec["end"])
                if hi > lo:
                    covered += hi - lo
                    cursor = hi
            out[rec["id"]] = (rec["end"] - rec["start"]) - covered
        return out

    def self_ms_by_name(self) -> dict[str, float]:
        st = self.self_times()
        out: dict[str, float] = {}
        for rec in self.spans:
            out[rec["name"]] = out.get(rec["name"], 0.0) + st[rec["id"]] * 1000.0
        return out

    def totals(self, key: str) -> int:
        """Sum of a per-span count. Jobs belong to the innermost span's
        job group, so job/stage/task counts add up without overlap."""
        return sum(rec.get(key, 0) for rec in self.spans)

    def dump(self, path: str) -> None:
        st = self.self_times()
        rows = [dict(rec, self_s=st[rec["id"]]) for rec in self.spans]
        with open(path, "w") as fh:
            json.dump({"run_id": self.run_id, "spans": rows, "counts": self.counts}, fh, indent=1)
