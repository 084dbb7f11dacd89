"""Per-layer metrics of the traced run.

A layer is a package module; a span's layer is the prefix of its name
(``dedup.verify`` -> ``dedup``). Times are span self times, summed per
layer within a traced run; Spark counters are summed over the stages
of the jobs each span's job group ran. Every value is the median over
the traced runs. Layers a workload does not use read 0.
"""

from __future__ import annotations

import os
import statistics

from perfbench.trace import PLAN_NODES, self_times

MB = 1e6

#: name -> unit, in the order printed. ``session.*`` and
#: ``trace.overhead_s`` are filled in by run.py.
PER_LAYER = {
    "session.start_s": "s", "session.warmup_s": "s",
    "readers.s": "s", "readers.rows": "count", "readers.mb": "MB",
    "functions.s": "s",
    "joins.s": "s", "joins.shuffle_mb": "MB",
    "aggregates.s": "s", "aggregates.shuffle_mb": "MB",
    "dedup.shingle_s": "s", "dedup.signature_s": "s", "dedup.verify_s": "s",
    "dedup.flag_s": "s",
    "dedup.candidate_pairs": "count", "dedup.verified_pairs": "count",
    "dedup.precision": "fraction",
    "similarity.bucket_s": "s", "similarity.score_s": "s",
    "similarity.candidate_pairs": "count", "similarity.verified_pairs": "count",
    "similarity.precision": "fraction", "similarity.python_rows": "count",
    "index.append_s": "s", "index.compact_s": "s", "index.mb_written": "MB",
    "index.files": "count", "index.compactions": "count",
    "streaming.batch_ms": "ms", "streaming.add_batch_ms": "ms",
    "streaming.planning_ms": "ms", "streaming.commit_ms": "ms",
    "streaming.latest_offset_ms": "ms", "streaming.batches": "count",
    "writers.s": "s", "writers.mb": "MB", "writers.files": "count",
    "writers.mb_per_input_mb": "ratio",
    "spark.tasks": "count", "spark.run_s": "s", "spark.cpu_s": "s", "spark.gc_s": "s",
    "spark.fetch_wait_s": "s", "spark.shuffle_write_mb": "MB", "spark.spill_mb": "MB",
    "spark.failed_tasks": "count", "spark.jobs": "count",
    **{k: "count" for k in PLAN_NODES},
    "trace.overhead_s": "s",
}

#: single spans reported on their own: metric -> span name
_SPAN_S = {
    "dedup.shingle_s": "dedup.shingle",
    "dedup.signature_s": "dedup.signature",
    "dedup.verify_s": "dedup.verify",
    "dedup.flag_s": "dedup.incremental_flags",
    "index.append_s": "index.append",
    "index.compact_s": "index.compact",
}


def _ratio(num: float, den: float) -> float:
    return num / den if den else 0.0


def _run_metrics(tracer, sums, selfs, run: int, out: str, input_mb: float,
                 vectors: int, written: tuple[str, ...]) -> dict:
    spans = [(i, s) for i, s in enumerate(tracer.spans) if s.run == run]

    def layer(prefix):
        return [(i, s) for i, s in spans if s.name.split(".", 1)[0] == prefix]

    def self_s(items):
        return sum(selfs[i] for i, _ in items)

    def stage(items, key):
        return sum(sums[s.group][key] for _, s in items)

    def rows(name, key="rows"):
        return sum(s.counts.get(key, 0) for _, s in spans if s.name == name)

    m = {}
    for name in ("readers", "functions", "joins", "aggregates", "writers"):
        m[f"{name}.s"] = self_s(layer(name))
    m["readers.rows"] = stage(layer("readers"), "inputRecords")
    m["readers.mb"] = stage(layer("readers"), "inputBytes") / MB
    m["joins.shuffle_mb"] = stage(layer("joins"), "shuffleWriteBytes") / MB
    m["aggregates.shuffle_mb"] = stage(layer("aggregates"), "shuffleWriteBytes") / MB
    for metric, span in _SPAN_S.items():
        m[metric] = self_s([(i, s) for i, s in spans if s.name == span])
    m["dedup.candidate_pairs"] = rows("dedup.verify", "arg1")
    m["dedup.verified_pairs"] = rows("dedup.verify")
    m["dedup.precision"] = _ratio(m["dedup.verified_pairs"], m["dedup.candidate_pairs"])

    bucket = [(i, s) for i, s in spans if s.name == "similarity.bucket"]
    cands = [(i, s) for i, s in spans if s.name == "similarity.candidates"]
    m["similarity.bucket_s"] = self_s(bucket)
    m["similarity.score_s"] = max(self_s(cands) - m["similarity.bucket_s"], 0.0)
    m["similarity.candidate_pairs"] = rows("similarity.candidates")
    m["similarity.verified_pairs"] = rows("similarity.embedding_near_dup_pairs")
    m["similarity.precision"] = _ratio(
        m["similarity.verified_pairs"], m["similarity.candidate_pairs"]
    )
    # rows through the Python workers: every corpus vector once for its
    # bucket ids, every candidate pair once for its cosine
    m["similarity.python_rows"] = (
        vectors + m["similarity.candidate_pairs"] if cands else 0
    )

    idx = layer("index")
    m["index.mb_written"] = stage(idx, "outputBytes") / MB
    m["index.compactions"] = sum(1 for _, s in idx if s.name == "index.compact")
    m["index.files"] = dir_files(os.path.join(out, "index")) if idx else 0

    wr = layer("writers")
    m["writers.mb"] = stage(wr, "outputBytes") / MB
    m["writers.files"] = sum(dir_files(os.path.join(out, w)) for w in written)
    m["writers.mb_per_input_mb"] = _ratio(m["writers.mb"], input_mb)

    m["spark.tasks"] = stage(spans, "numCompleteTasks")
    m["spark.run_s"] = stage(spans, "executorRunTime") / 1e3
    m["spark.cpu_s"] = stage(spans, "executorCpuTime") / 1e9
    m["spark.gc_s"] = stage(spans, "jvmGcTime") / 1e3
    m["spark.fetch_wait_s"] = stage(spans, "shuffleFetchWaitTime") / 1e3
    m["spark.shuffle_write_mb"] = stage(spans, "shuffleWriteBytes") / MB
    m["spark.spill_mb"] = (stage(spans, "memoryBytesSpilled") + stage(spans, "diskBytesSpilled")) / MB
    m["spark.failed_tasks"] = stage(spans, "numFailedTasks")
    m["spark.jobs"] = stage(spans, "jobs")
    return m


def dir_files(path: str) -> int:
    """Data files at or under ``path`` (no checksum or marker files)."""
    if os.path.isfile(path):
        return 1
    return sum(
        1 for _, _, names in os.walk(path) for f in names if not f.startswith((".", "_"))
    )


def layer_metrics(tracer, status, wl, outs, input_mb, progress, progress_runs, plan) -> dict:
    """Every ``PER_LAYER`` metric except those run.py adds, as
    ``name -> (value, unit)``. ``progress`` holds the micro-batch
    progress of ``progress_runs`` untraced runs."""
    sums = status.stage_sums([s.group for s in tracer.spans])
    selfs = self_times(tracer.spans)
    vectors = wl.truth["rows"].get("embeddings", 0)
    runs = [_run_metrics(tracer, sums, selfs, r, out, input_mb, vectors, wl.writer_outputs)
            for r, out in enumerate(outs)]
    m = {k: statistics.median(r[k] for r in runs) for k in runs[0]} if runs else {}

    def prog(key):
        return statistics.median(b.get(key, 0) for b in progress) if progress else 0.0

    m["streaming.batch_ms"] = prog("triggerExecution")
    m["streaming.add_batch_ms"] = prog("addBatch")
    m["streaming.planning_ms"] = prog("queryPlanning")
    m["streaming.commit_ms"] = prog("commitOffsets")
    m["streaming.latest_offset_ms"] = prog("latestOffset")
    m["streaming.batches"] = _ratio(len(progress), progress_runs)
    m.update(plan)
    return {k: (m.get(k, 0.0), u) for k, u in PER_LAYER.items()
            if k not in ("session.start_s", "session.warmup_s", "trace.overhead_s")}
