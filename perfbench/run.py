"""Benchmark entry point: one workload, one seed, one closed-loop client.

    python3 perfbench/run.py --workload household_etl --seed 1 --seconds 12 --trace 0

Run from the repository root. The last line of stdout is one JSON
object ``{"correct", "attempted", "failed", "metrics"}``; human-readable
detail (quartiles, sample counts, failure causes) goes to stderr.

``--trace 0`` measures the end-to-end metrics: after the set-up
(session start, per-session preparation, warm-up runs), pipeline runs
repeat back to back for ``--seconds``. ``--trace 1`` measures the
per-layer metrics: after the same set-up, untraced runs give the
plan-shape counts, the streaming progress and the untraced job time;
traced runs then wrap each layer call in a span (see ``trace.py``).
Spans and plan texts are kept under ``.perfbench-out/``. In both modes
every run's output is checked after the measured runs, against an
expected output computed then.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import traceback

T_PROCESS = time.perf_counter()
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
#: spans whose output row counts feed the per-layer pair counts ->
#: positional arguments whose row counts are kept too (the verify
#: step's argument 1 is its candidate pairs)
COUNTED_SPANS = {
    "dedup.verify": (1,),
    "similarity.candidates": (),
    "similarity.embedding_near_dup_pairs": (),
}


def log(*a) -> None:
    print(*a, file=sys.stderr, flush=True)


def median(xs):
    return statistics.median(xs) if xs else 0.0


def quartiles(xs):
    if len(xs) < 2:
        return (xs[0], xs[0]) if xs else (0.0, 0.0)
    q = statistics.quantiles(xs, n=4)
    return q[0], q[2]


def tail_percentile(xs):
    """The highest percentile with at least ten samples beyond it:
    (percentile, value, samples beyond) or None below 11 samples."""
    n = len(xs)
    if n < 11:
        return None
    p = int(100 * (n - 10) / n)
    xs = sorted(xs)
    idx = min(n - 1, int(p / 100 * n))
    return p, xs[idx], n - idx - 1


def foreign_spark_or_pytest() -> list[str]:
    """Command lines of Spark JVMs or pytest processes that are not
    descendants of this process."""
    from perfbench.trace import proc_parents

    me = os.getpid()
    parent = proc_parents()

    def mine(pid):
        while pid > 1:
            if pid == me:
                return True
            pid = parent.get(pid, 0)
        return False

    found = []
    for pid in parent:
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as f:
                argv = f.read().decode(errors="replace").split("\0")
        except OSError:
            continue
        names = {os.path.basename(a) for a in argv}
        if names & {"pytest", "py.test", "org.apache.spark.deploy.SparkSubmit"} and not mine(pid):
            found.append(" ".join(argv)[:160])
    return found


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, n)) for d, _, names in os.walk(path) for n in names
    )


class Bench:
    def __init__(self, args):
        from perfbench.workloads import WORKLOADS

        self.args = args
        tag = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
        self.work = os.path.join(ROOT, ".perfbench-work", tag)
        self.evidence = os.path.join(ROOT, ".perfbench-out", f"{args.workload}-s{args.seed}")
        self.wl = WORKLOADS[args.workload](os.path.join(self.work, "inputs"))
        self.spark = None
        #: output directory of every run, in run order
        self.outs: list[str] = []
        #: run index -> first failure cause
        self.failures: dict[int, str] = {}
        self.recalls: list[float] = []
        self.listener = None

    @property
    def attempted(self) -> int:
        return len(self.outs)

    @property
    def failed(self) -> int:
        return len(self.failures)

    def fail(self, run: int, e: Exception) -> None:
        self.failures.setdefault(run, f"{type(e).__name__}: {e}"[:300])

    # --- session and runs --------------------------------------------

    def start_session(self):
        from dask_datapipeline_spark.session import get_spark

        from perfbench.trace import batch_progress_listener

        self.spark = get_spark("perfbench", extra_conf=self.wl.spark_conf)
        self.listener = batch_progress_listener()
        self.spark.streams.addListener(self.listener)

    def stop_session(self):
        """Stop the session, then the driver JVM: closing its stdin pipe
        makes the gateway exit; wait until it has."""
        from pyspark import SparkContext

        if self.spark is None:
            return
        self.spark.stop()
        self.spark = None
        gateway = SparkContext._gateway
        if gateway is None:
            return
        gateway.shutdown()
        SparkContext._gateway = SparkContext._jvm = None
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()

    def one_run(self, tracer=None) -> float | None:
        """One pipeline run on a clean cache into a fresh output
        directory. Returns the run's wall time, or None if it raised;
        its output is checked later, by ``verify``."""
        self.spark.catalog.clearCache()
        out = os.path.join(self.work, f"out{len(self.outs)}")
        os.makedirs(out)
        self.wl.before_run(out)
        self.outs.append(out)
        t0 = time.perf_counter()
        try:
            self.wl.run(self.spark, out, tracer)
        except Exception as e:  # a failed run is counted, not fatal
            self.fail(len(self.outs) - 1, e)
            log(traceback.format_exc())
            return None
        return time.perf_counter() - t0

    def verify(self) -> None:
        """Compute the expected output, then check every run's output
        against it (warm-up runs included)."""
        self.wl.reference(self.spark)
        for run, out in enumerate(self.outs):
            if run in self.failures:
                continue
            try:
                self.recalls.append(self.wl.check(out))
            except Exception as e:
                self.fail(run, e)

    def setup(self) -> tuple[float, float]:
        """Session start, then per-session preparation and the warm-up
        runs. Returns the seconds of each part."""
        t0 = time.perf_counter()
        self.start_session()
        t1 = time.perf_counter()
        self.wl.prepare(self.spark, self.work)
        for _ in range(self.wl.warmup_runs):
            self.one_run()
        return t1 - t0, time.perf_counter() - t1

    # --- modes ---------------------------------------------------------

    def end_to_end(self) -> dict:
        from perfbench.trace import RssSampler

        start, warm = self.setup()
        # from process start, minus input generation, to the first timed run
        setup_s = time.perf_counter() - T_PROCESS - self.gen_s
        log(f"setup_s {setup_s:.3f}: session {start:.3f}, preparation + warm-up {warm:.3f}")
        times = []
        deadline = time.perf_counter() + self.args.seconds
        with RssSampler() as rss:
            while not times or time.perf_counter() < deadline:
                dt = self.one_run()
                if dt is not None:
                    times.append(dt)
                elif time.perf_counter() >= deadline:
                    break
        if not times:
            raise RuntimeError("no pipeline run succeeded")
        self.verify()
        job = median(times)
        q1, q3 = quartiles(times)
        log(f"job_s median {job:.4f} q1 {q1:.4f} q3 {q3:.4f} n {len(times)}; "
            f"tail {tail_percentile(times)}; samples {[round(t, 3) for t in times]}")
        batches = [b["triggerExecution"] for b in self.listener.batches]
        if batches:
            log(f"batch_ms median {median(batches):.1f} n {len(batches)}; "
                f"tail {tail_percentile(batches)}")
        return {
            "job_s": (job, "s"),
            "rows_per_s": (self.wl.input_rows / job, "rows/s"),
            "setup_s": (setup_s, "s"),
            "recall": (median(self.recalls) if self.recalls else 0.0, "fraction"),
            "peak_rss_mb": (rss.peak / 1e6, "MB"),
        }

    def traced(self) -> dict:
        from perfbench.trace import SparkStatus, Tracer

        start, warm = self.setup()
        status = SparkStatus(self.spark)
        half = time.perf_counter() + self.args.seconds / 2

        # untraced runs: job time, plan shapes, streaming progress
        first_sql = status.next_sql_id()
        plan, texts = {}, []
        self.listener.batches.clear()
        untraced = []
        while not untraced or time.perf_counter() < half:
            dt = self.one_run()
            if dt is None:
                break
            untraced.append(dt)
            if len(untraced) == 1:
                status.drain()
                plan, texts = status.plan_counts(first_sql)
                try:
                    self.wl.check_plans(texts)
                except Exception as e:
                    self.fail(len(self.outs) - 1, e)
        progress = list(self.listener.batches)

        # traced runs
        tracer = Tracer(self.spark, count=COUNTED_SPANS)
        for mod, attr, name in self.wl.trace_points:
            if not tracer.wrap(mod, attr, name):
                log(f"trace point {mod}.{attr} not found; its layer reads 0")
        deadline = time.perf_counter() + self.args.seconds / 2
        traced_totals, outs = [], []
        try:
            while not traced_totals or time.perf_counter() < deadline:
                tracer.run = len(traced_totals)
                dt = self.one_run(tracer)
                if dt is None:
                    break
                traced_totals.append(dt)
                outs.append(self.outs[-1])
        finally:
            tracer.close()
        status.drain()
        self.verify()

        os.makedirs(self.evidence, exist_ok=True)
        tracer.dump(os.path.join(self.evidence, "spans.jsonl"))
        with open(os.path.join(self.evidence, "plans.txt"), "w") as f:
            f.write("\n\n".join(texts))

        from perfbench.layers import layer_metrics

        m = layer_metrics(
            tracer, status, self.wl, outs,
            input_mb=dir_bytes(self.wl.inputs) / 1e6,
            progress=progress, progress_runs=len(untraced), plan=plan,
        )
        m["session.start_s"] = (start, "s")
        m["session.warmup_s"] = (warm, "s")
        m["trace.overhead_s"] = (median(traced_totals) - median(untraced), "s")
        log(f"untraced job_s {median(untraced):.4f} n {len(untraced)}; "
            f"traced {median(traced_totals):.4f} n {len(traced_totals)}")
        return m


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "dask_datapipeline_spark")):
        log(f"no dask_datapipeline_spark package under {ROOT}: run from a repository checkout")
        return 2
    sys.path.insert(0, ROOT)
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        log(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}")
        return 2

    cpus = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_GRAFT_CPUS"] = cpus
    # the session's own sizing rule: shuffle partitions ~2x the cores
    os.environ["SPARK_GRAFT_SHUFFLE"] = str(2 * int(cpus))
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    bench = Bench(args)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(bench.work, "spark-local")
    os.makedirs(os.environ["SPARK_LOCAL_DIRS"])
    # scratch files of Python and of every JVM (the launcher's too:
    # native libraries, artifacts, perf data) stay in the work directory
    tempfile.tempdir = os.environ["TMPDIR"] = os.path.join(bench.work, "tmp")
    os.makedirs(tempfile.tempdir)
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tempfile.tempdir} -XX:-UsePerfData"
    contended = foreign_spark_or_pytest()
    try:
        t_gen = time.perf_counter()
        bench.wl.generate(args.seed)
        bench.gen_s = time.perf_counter() - t_gen
        metrics = bench.traced() if args.trace else bench.end_to_end()
    finally:
        bench.stop_session()
        shutil.rmtree(bench.work, ignore_errors=True)
    contended += foreign_spark_or_pytest()
    if contended:
        log(f"WARNING: measured while other Spark/pytest processes ran: {contended[:3]}")
    log(f"local[{cpus}]; failed_frac {bench.failed}/{bench.attempted}; "
        f"failures {list(bench.failures.values())[:3]}")
    print(json.dumps({
        "correct": bench.failed == 0,
        "attempted": bench.attempted,
        "failed": bench.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
