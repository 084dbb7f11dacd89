"""Tracing and resource sampling, all from outside the package.

- ``Tracer`` records spans (name, start, end, parent, run id) in memory
  around calls into the package's public functions. Spark is lazy, so a
  traced call's DataFrame output is materialized inside its span with
  an eager ``localCheckpoint`` under a Spark job group named after the
  span; downstream calls then read the checkpoint and pay only for
  their own work.
- ``self_times`` is span duration minus the union of its children's
  intervals.
- ``SparkStatus`` reads stage and SQL-plan metrics per job group from
  the application status store through the driver UI's REST API.
- ``RssSampler`` polls the resident memory of this process tree.
- ``BatchProgress`` is a streaming query listener that keeps each
  micro-batch's duration breakdown.
"""

from __future__ import annotations

import functools
import importlib
import json
import os
import threading
import time
import urllib.request
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    run: int = 0
    group: str = ""
    counts: dict = field(default_factory=dict)


def self_times(spans: list[Span]) -> list[float]:
    """Per span: its duration minus the part of it that its direct
    children cover (overlapping children are merged first)."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append((s.start, s.end))
    out = []
    for i, s in enumerate(spans):
        covered, cur_lo, cur_hi = 0.0, None, None
        for lo, hi in sorted(kids.get(i, [])):
            lo, hi = max(lo, s.start), min(hi, s.end)
            if hi <= lo:
                continue
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out.append((s.end - s.start) - covered)
    return out


class Tracer:
    """In-memory span recorder. ``wrap`` replaces a module attribute
    with a traced version for the life of the tracer; ``close``
    restores every original."""

    def __init__(self, spark=None, count: dict[str, tuple[int, ...]] | None = None):
        self.spark = spark
        #: span names whose DataFrame output rows are counted in-span ->
        #: positional arguments whose rows are counted too
        self.count = count or {}
        self.spans: list[Span] = []
        self.run = 0
        self._stack: list[int] = []
        self._patched: list[tuple[object, str, object]] = []

    def begin(self, name: str) -> int:
        idx = len(self.spans)
        group = f"pb{self.run}.{idx}.{name}"
        self.spans.append(Span(
            name, time.perf_counter(),
            parent=self._stack[-1] if self._stack else None,
            run=self.run, group=group,
        ))
        self._stack.append(idx)
        if self.spark is not None:
            self.spark.sparkContext.setJobGroup(group, name)
        return idx

    def end(self, idx: int) -> Span:
        span = self.spans[idx]
        span.end = time.perf_counter()
        self._stack.pop()
        if self.spark is not None:
            if self._stack:
                outer = self.spans[self._stack[-1]]
                self.spark.sparkContext.setJobGroup(outer.group, outer.name)
            else:
                self.spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
        return span

    def call(self, name: str, fn, *args, **kwargs):
        """Run ``fn`` inside span ``name``; a DataFrame result is
        materialized inside the span and returned checkpointed."""
        from pyspark.sql import DataFrame

        idx = self.begin(name)
        try:
            out = fn(*args, **kwargs)
            if isinstance(out, DataFrame):
                out = out.localCheckpoint(eager=True)
                if name in self.count:
                    counts = self.spans[idx].counts
                    counts["rows"] = out.count()
                    for i in self.count[name]:
                        counts[f"arg{i}"] = args[i].count()
        finally:
            self.end(idx)
        return out

    def wrap(self, module: str, attr: str, name: str) -> bool:
        """Trace every call of ``module.attr`` made through the module
        attribute. Returns False (and traces nothing) when the module
        no longer has that attribute."""
        mod = importlib.import_module(module)
        orig = getattr(mod, attr, None)
        if orig is None:
            return False

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            return self.call(name, orig, *args, **kwargs)

        setattr(mod, attr, traced)
        self._patched.append((mod, attr, orig))
        return True

    def close(self) -> None:
        for mod, attr, orig in reversed(self._patched):
            setattr(mod, attr, orig)
        self._patched.clear()

    def dump(self, path: str) -> None:
        selfs = self_times(self.spans)
        with open(path, "w") as f:
            for s, st in zip(self.spans, selfs):
                f.write(json.dumps({
                    "name": s.name, "start": s.start, "end": s.end,
                    "parent": s.parent, "run": s.run, "group": s.group,
                    "self_s": st, "counts": s.counts,
                }) + "\n")


# ----- Spark application status store ------------------------------

_STAGE_SUMS = (
    "numCompleteTasks", "numFailedTasks", "executorRunTime", "executorCpuTime",
    "jvmGcTime", "shuffleFetchWaitTime", "shuffleWriteBytes",
    "memoryBytesSpilled", "diskBytesSpilled", "inputBytes", "inputRecords",
    "outputBytes",
)
PLAN_NODES = {
    "plan.exchanges": ("Exchange",),
    "plan.broadcast_joins": ("BroadcastHashJoin",),
    "plan.smj": ("SortMergeJoin",),
    "plan.arrow_evals": ("ArrowEvalPython",),
}


class SparkStatus:
    """Reads the driver UI's REST API (``/api/v1``) on localhost."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self.sc = sc
        self.base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"

    def _get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=30) as r:
            return json.load(r)

    def drain(self) -> None:
        """Wait until the listener bus has delivered every event, so
        the status store is complete for the jobs that ran."""
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()

    def stage_sums(self, groups: list[str]) -> dict[str, dict[str, float]]:
        """Per job group: the stage metrics in ``_STAGE_SUMS`` summed
        over every attempt of every stage its jobs ran, plus the job
        count."""
        tracker = self.sc.statusTracker()
        jobs = {j["jobId"]: j for j in self._get("/jobs")}
        stages: dict[int, list[dict]] = {}
        for st in self._get("/stages"):
            stages.setdefault(st["stageId"], []).append(st)
        out = {}
        for g in groups:
            acc = dict.fromkeys(_STAGE_SUMS, 0.0)
            ids = list(tracker.getJobIdsForGroup(g))
            seen = set()
            for jid in ids:
                for sid in jobs.get(jid, {}).get("stageIds", []):
                    if sid in seen:
                        continue
                    seen.add(sid)
                    for st in stages.get(sid, []):
                        for k in _STAGE_SUMS:
                            acc[k] += st.get(k, 0) or 0
            acc["jobs"] = len(ids)
            out[g] = acc
        return out

    def plan_counts(self, since_id: int) -> tuple[dict[str, int], list[str]]:
        """Node counts over the final (adaptive) plans of every SQL
        execution with id >= ``since_id``, and their plan texts."""
        counts = dict.fromkeys(PLAN_NODES, 0)
        texts = []
        for ex in self._get("/sql?details=true&planDescription=true&length=100000"):
            if ex["id"] < since_id:
                continue
            texts.append(f"== execution {ex['id']}: {ex['description']}\n"
                         + ex.get("planDescription", ""))
            names = [n["nodeName"] for n in ex.get("nodes", [])]
            for metric, kinds in PLAN_NODES.items():
                counts[metric] += sum(n in kinds for n in names)
        return counts, texts

    def next_sql_id(self) -> int:
        execs = self._get("/sql?length=100000")
        return max((e["id"] for e in execs), default=-1) + 1


# ----- memory ---------------------------------------------------------


def proc_parents() -> dict[int, int]:
    """pid -> parent pid of every live process."""
    out = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                out[int(d)] = int(f.read().rsplit(")", 1)[1].split()[1])
        except OSError:
            continue
    return out


def _proc_memory_bytes(pid: int) -> int:
    """Resident memory of one process. Python processes count their
    proportional share (PSS): forked Python workers share most pages
    with their daemon, and RSS would count those pages once per
    worker. Other processes (the JVM) count RSS, read from ``statm``:
    walking a JVM's thousand mappings for PSS costs about 14 ms and
    takes the lock its allocator needs."""
    with open(f"/proc/{pid}/comm") as f:
        comm = f.read().strip()
    if comm.startswith("python"):
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
        return 0
    with open(f"/proc/{pid}/statm") as f:
        return int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")


def _tree_memory_bytes(root: int) -> int:
    """Summed resident memory of ``root`` and its descendants."""
    children: dict[int, list[int]] = {}
    for pid, ppid in proc_parents().items():
        children.setdefault(ppid, []).append(pid)
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        todo.extend(children.get(pid, []))
        try:
            total += _proc_memory_bytes(pid)
        except OSError:
            continue
    return total


#: seconds between two memory samples
RSS_INTERVAL = 0.25


class RssSampler:
    """Background thread polling the resident memory of this process
    and all its descendants (the driver JVM and its Python workers)."""

    def __init__(self):
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, _tree_memory_bytes(me))
            self._stop.wait(RSS_INTERVAL)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)


# ----- streaming progress --------------------------------------------


def batch_progress_listener():
    """A ``StreamingQueryListener`` keeping ``durationMs`` of every
    micro-batch that read rows; built lazily so importing this module
    needs no Spark."""
    from pyspark.sql.streaming import StreamingQueryListener

    class BatchProgress(StreamingQueryListener):
        def __init__(self):
            self.batches: list[dict] = []

        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            p = event.progress
            if p.numInputRows > 0:
                self.batches.append(dict(p.durationMs))

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    return BatchProgress()
