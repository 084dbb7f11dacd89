"""The benchmark workloads.

Each workload generates its inputs from the seed, runs one real user
pipeline through the package's public functions (``run``) and checks
the pipeline's output outside Spark (``check``, which raises
``CheckFailed`` or returns the recall). ``trace_points`` names the
package functions whose calls the traced run wraps in spans; the span
name's prefix is the layer (the package module) it is charged to.
"""

from __future__ import annotations

import glob
import os
import re
import shutil

import numpy as np
import pyarrow.parquet as pq

from perfbench import gen, oracle

PKG = "dask_datapipeline_spark"


class CheckFailed(Exception):
    pass


def _read_parquet_dir(path: str, columns: list[str]):
    files = sorted(glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True))
    if not files:
        raise CheckFailed(f"no parquet output under {path}")
    return pq.ParquetDataset(files).read(columns=columns)


class Workload:
    name = ""
    #: set-up warm-up runs: in a fresh JVM a run keeps getting faster
    #: over the first several (JIT), so timed runs start after these
    warmup_runs = 5
    #: Spark settings the workload's session adds to the package's
    spark_conf: dict[str, str] = {}
    #: (module, attribute, span name) traced in the traced run
    trace_points: tuple[tuple[str, str, str], ...] = ()
    #: what the writers layer writes, relative to a run's output dir
    writer_outputs: tuple[str, ...] = ()

    def __init__(self, inputs: str):
        self.inputs = inputs
        self.truth: dict = {}

    @property
    def input_rows(self) -> int:
        return self.truth["input_rows"]

    def generate(self, seed: int) -> None:
        raise NotImplementedError

    def prepare(self, spark, work: str) -> None:
        """Per-session set-up that the timed runs rely on (timed as
        part of set-up)."""

    def reference(self, spark) -> None:
        """Expected output, computed once after the timed runs; not
        timed."""

    def before_run(self, out: str) -> None:
        """Untimed per-run state reset."""

    def run(self, spark, out: str, tracer=None) -> None:
        raise NotImplementedError

    def check(self, out: str) -> float:
        raise NotImplementedError

    def check_plans(self, texts: list[str]) -> None:
        """Checks on the executed plans of one run (traced mode)."""


def _call(tracer, name, fn, *args, **kwargs):
    """A top-level pipeline call: plain in a timed run, a span (with
    its DataFrame output materialized) in the traced run."""
    if tracer is None:
        return fn(*args, **kwargs)
    return tracer.call(name, fn, *args, **kwargs)


# ----- household_etl -------------------------------------------------


class HouseholdEtl(Workload):
    """The paper's job: three CSVs -> household features -> one CSV."""

    name = "household_etl"
    n_tx = 150_000
    writer_outputs = ("household_features.csv",)
    #: The reference's mapping table is far larger than the package's
    #: 64 MiB broadcast threshold, so its join is a sort-merge join. The
    #: generated ``hh_ind`` is about 2 MiB of CSV; a 1 MiB threshold
    #: keeps that join shape at this size (``check_plans`` asserts it).
    spark_conf = {"spark.sql.autoBroadcastJoinThreshold": str(2**20)}
    trace_points = (
        (f"{PKG}.plans.reference_main", "scan_csv", "readers.scan_csv"),
        (f"{PKG}.plans.reference_main", "cast_timestamp", "functions.cast_timestamp"),
        (f"{PKG}.plans.household_features", "equi_join", "joins.equi_join"),
        (f"{PKG}.plans.household_features", "group_agg", "aggregates.group_agg"),
        (f"{PKG}.plans.household_features", "fold_join", "joins.fold_join"),
    )

    def generate(self, seed):
        self.truth = gen.gen_household(seed, self.inputs, self.n_tx)
        self.csvs = [os.path.join(self.inputs, f) for f in
                     ("transactions.csv", "hh_ind.csv", "demographics.csv")]

    def reference(self, spark):
        self.expected = oracle.household_reference(*self.csvs)
        if not self.expected:
            raise CheckFailed("reference output is empty; inputs are degenerate")

    def run(self, spark, out, tracer=None):
        from dask_datapipeline_spark.plans import reference_main
        from dask_datapipeline_spark.sources.writers import write_csv

        df = _call(tracer, "plans.run_pipeline", reference_main.run_pipeline,
                   spark, *self.csvs)
        _call(tracer, "writers.write_csv", write_csv,
              df, os.path.join(out, "household_features.csv"), single_file=True)

    def check(self, out):
        got = oracle.read_household_csv(os.path.join(out, "household_features.csv"))
        want = self.expected
        if got != want:
            bad = sum(a != b for a, b in zip(got, want)) + abs(len(got) - len(want))
            raise CheckFailed(
                f"{bad} of {len(want)} household rows differ from the DuckDB recompute"
            )
        return 1.0

    def check_plans(self, texts):
        joins = set(re.findall(r"\) (\w+Join)\b.*\nLeft keys \[1\]: \[individual_id#",
                               "\n".join(texts)))
        if joins != {"SortMergeJoin"}:
            raise CheckFailed(f"the transactions-to-mapping join ran as {sorted(joins)}, "
                              "not as a sort-merge join")


# ----- stream_dedup --------------------------------------------------


def _texts(table) -> dict[int, set[str]]:
    return {
        i: oracle.word_shingles(t)
        for i, t in zip(table.column("doc_id").to_pylist(), table.column("text").to_pylist())
    }


THRESHOLD_JACCARD = 0.5


class StreamDedup(Workload):
    """Incremental near-dup upkeep: a staged micro-batch flagged against
    a persisted MinHash index (base plus an earlier ingest's increment),
    appended to it, and the earlier increment compacted into the base."""

    name = "stream_dedup"
    n_base, n_batches, batch_docs = 1000, 1, 200
    #: compaction after every micro-batch folds the prior increment
    compact_every = 1
    trace_points = (
        # minhash_index binds the dedup helpers by name at import
        (f"{PKG}.operators.minhash_index", "hashed_shingles", "dedup.shingle"),
        (f"{PKG}.operators.minhash_index", "_signatures_from_hashed", "dedup.signature"),
        (f"{PKG}.operators.minhash_index", "_jaccard_from_distinct", "dedup.verify"),
        (f"{PKG}.operators.minhash_index", "incremental_near_dup_flags", "dedup.incremental_flags"),
        (f"{PKG}.operators.minhash_index", "append_to_minhash_index", "index.append"),
        (f"{PKG}.operators.minhash_index", "compact_minhash_index", "index.compact"),
    )

    def generate(self, seed):
        self.truth = gen.gen_stream(seed, self.inputs, self.n_base,
                                    self.n_batches, self.batch_docs)
        self.staged = os.path.join(self.inputs, "staged")
        self.shingles = {}
        for f in sorted(glob.glob(os.path.join(self.inputs, "**", "*.parquet"), recursive=True)):
            self.shingles.update(_texts(pq.read_table(f)))

    def prepare(self, spark, work):
        from dask_datapipeline_spark.operators.minhash_index import (
            append_to_minhash_index,
            build_minhash_index,
        )

        self.base_index = os.path.join(work, "base_index")
        shutil.rmtree(self.base_index, ignore_errors=True)
        build_minhash_index(
            spark.read.parquet(os.path.join(self.inputs, "base.parquet")), self.base_index
        )
        append_to_minhash_index(
            spark.read.parquet(os.path.join(self.inputs, "prior.parquet")),
            self.base_index, "prior",
        )

    def reference(self, spark):
        """One-shot flags of all staged docs against the prepared index —
        the documented equal of the union of per-batch flags."""
        from dask_datapipeline_spark.operators.minhash_index import (
            incremental_near_dup_flags,
        )

        rows = incremental_near_dup_flags(
            spark.read.parquet(self.staged), self.base_index, threshold=THRESHOLD_JACCARD
        ).collect()
        self.expected = {(r["doc_id"], r["dup_of"], r["is_new"]) for r in rows}

    def before_run(self, out):
        self.index = os.path.join(out, "index")
        shutil.copytree(self.base_index, self.index)

    def run(self, spark, out, tracer=None):
        from dask_datapipeline_spark.streaming import windows

        _call(tracer, "streaming.stream_incremental_dedup", windows.stream_incremental_dedup,
              spark, self.staged, self.index, os.path.join(out, "flags"),
              checkpoint_dir=os.path.join(out, "ckpt"), threshold=THRESHOLD_JACCARD,
              compact_every=self.compact_every, timeout_sec=150)

    def check(self, out):
        t = _read_parquet_dir(os.path.join(out, "flags"), ["doc_id", "dup_of", "is_new"])
        rows = list(zip(t.column("doc_id").to_pylist(), t.column("dup_of").to_pylist(),
                        t.column("is_new").to_pylist()))
        got = set(rows)
        if len(rows) != len(got) or got != self.expected:
            raise CheckFailed(
                f"per-batch flags differ from one-shot flags in {len(got ^ self.expected)} rows"
            )
        for doc, dup_of, _ in rows:
            if dup_of is not None and oracle.jaccard(
                self.shingles[doc], self.shingles[dup_of]
            ) < THRESHOLD_JACCARD:
                raise CheckFailed(f"flag ({doc} dup of {dup_of}) is below the threshold")
        flagged = {doc for doc, dup_of, _ in rows if dup_of is not None}
        planted = set(self.truth["exact_dup_ids"]) | {b for _, b in self.truth["near_pairs"]}
        return oracle.recall(flagged, planted)


# ----- vector_dedup --------------------------------------------------

THRESHOLD_COSINE = 0.95


class VectorDedup(Workload):
    """Embedding near-dup pairs by SRP-LSH buckets + exact cosine."""

    name = "vector_dedup"
    n_vectors = 20_000
    writer_outputs = ("pairs",)
    trace_points = (
        (f"{PKG}.operators.similarity", "_lsh_candidate_pairs", "similarity.candidates"),
    )

    def generate(self, seed):
        self.truth = gen.gen_vectors(seed, self.inputs, self.n_vectors)
        t = pq.read_table(os.path.join(self.inputs, "embeddings.parquet"))
        self.vecs = np.asarray(t.column("embedding").to_pylist(), dtype=np.float32)

    def run(self, spark, out, tracer=None):
        from dask_datapipeline_spark.operators.similarity import embedding_near_dup_pairs
        from dask_datapipeline_spark.sources.readers import scan_parquet
        from dask_datapipeline_spark.sources.writers import write_parquet

        emb = _call(tracer, "readers.scan_parquet", scan_parquet,
                    spark, os.path.join(self.inputs, "embeddings.parquet"))
        if tracer is not None:
            # the SRP bucket-hashing pass alone, at the geometry the
            # operator sizes for this corpus: the bucket share of
            # similarity.candidates
            from dask_datapipeline_spark.operators.similarity import (
                lsh_bucket_occupancy,
                sized_srp_bits,
            )

            tracer.call("similarity.bucket", lsh_bucket_occupancy, emb,
                        dim=gen.DIM, bits_per_table=sized_srp_bits(self.input_rows))
        pairs = _call(tracer, "similarity.embedding_near_dup_pairs",
                      embedding_near_dup_pairs, emb, threshold=THRESHOLD_COSINE, dim=gen.DIM)
        _call(tracer, "writers.write_parquet", write_parquet, pairs, os.path.join(out, "pairs"))

    def check(self, out):
        t = _read_parquet_dir(os.path.join(out, "pairs"), ["id_a", "id_b"])
        pairs = list(zip(t.column("id_a").to_pylist(), t.column("id_b").to_pylist()))
        if len(set(pairs)) != len(pairs):
            raise CheckFailed("duplicate pairs in the output")
        for a, b in pairs:
            if not a < b or oracle.cosine(self.vecs[a], self.vecs[b]) < THRESHOLD_COSINE - 1e-6:
                raise CheckFailed(f"pair ({a}, {b}) is below the cosine threshold")
        return oracle.recall(set(pairs), self.truth["near_pairs"])


# ----- corpus_dedup --------------------------------------------------


class CorpusDedup(Workload):
    """The corpus-dedup stage of an LLM data pipeline, run as one job:
    the text near-dup upkeep of ``StreamDedup``, then the embedding
    near-dup pairs of ``VectorDedup``. Each part has its own inputs
    subdirectory and writes distinct names into the run's output dir.

    No warm-up: one run costs about 30 s on a fresh JVM, most of it the
    micro-batch, so the timed run is the first one after the index
    build. The index build and the prior append in set-up already run
    the shingle and signature code."""

    name = "corpus_dedup"
    warmup_runs = 0

    def __init__(self, inputs):
        super().__init__(inputs)
        self.parts = (StreamDedup(os.path.join(inputs, "text")),
                      VectorDedup(os.path.join(inputs, "vectors")))
        self.trace_points = sum((p.trace_points for p in self.parts), ())
        self.writer_outputs = sum((p.writer_outputs for p in self.parts), ())

    def generate(self, seed):
        for p in self.parts:
            p.generate(seed)
        self.truth = {
            "input_rows": sum(p.input_rows for p in self.parts),
            "rows": {k: v for p in self.parts for k, v in p.truth["rows"].items()},
        }

    def prepare(self, spark, work):
        for p in self.parts:
            p.prepare(spark, work)

    def reference(self, spark):
        for p in self.parts:
            p.reference(spark)

    def before_run(self, out):
        for p in self.parts:
            p.before_run(out)

    def run(self, spark, out, tracer=None):
        for p in self.parts:
            p.run(spark, out, tracer)

    def check(self, out):
        """The lower recall of the two parts, so that losing the few
        planted text dups shows next to the many planted vector pairs."""
        return min(p.check(out) for p in self.parts)


WORKLOADS = {w.name: w for w in (HouseholdEtl, CorpusDedup)}
