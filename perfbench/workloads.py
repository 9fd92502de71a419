"""The benchmark's workloads: inputs, queries and output checks.

A workload prepares its inputs once per run and exposes its queries,
which make a pass, and its extra queries, which only a traced run
executes. A :class:`Query` runs one query end to end through the engine's public
functions and returns its result; ``check`` tells whether the result is
correct. Each call into the engine sits in a span named
``<layer>.<function>`` after the package module that does the work, and
the job that produces the result sits in an ``exec.action`` span inside
the call whose output it consumes.
"""

from __future__ import annotations

import hashlib
import json
import os
import random
import shutil
import time
from dataclasses import dataclass
from typing import Any, Callable

import checks
import gen

HERE = os.path.dirname(os.path.abspath(__file__))

# graph_rgd keeps the skew of the paper's Twitter lists (max degree in
# the thousands) at a size where one pass takes seconds on 4 cores.
RGD_LINES = 40_000
# The curation workload reads the sf0.01 test tables listed in
# TESTDATA.md, copied here so a run reads nothing outside its checkout.
# Its cost is mostly fixed per job: a pass over the sf0.1 tables (5,000
# documents) takes about twice as long as one over sf0.01 (500), longer
# than a run can afford on 4 cores.
CORPUS_DIR = os.path.join(HERE, "data", "sf0.01")
CORPUS_TABLES = ("documents", "embeddings")


@dataclass
class Query:
    name: str
    run: Callable[[Any], Any]     # tracer -> result
    check: Callable[[Any], bool]  # result -> correct?


def _collect(df):
    return df.columns, df.collect()


def dir_bytes(path: str) -> int:
    """Total size of the files under ``path``."""
    total = 0
    for d, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(d, f)) for f in files)
    return total


class GraphRGD:
    """The paper's own job on a seeded heavy-tailed dirty edge list: the
    text edge-list read and the triangle count in ``simple`` and
    ``faithful`` mode make a pass.

    The incremental streaming count over the canonical edge set, in two
    micro-batches with the second reading back the state the first
    wrote, is an extra query: a traced run executes it once after its
    timed passes, so the streaming layer is measured without its fixed
    per-batch jobs (seconds each) swamping the batch count's pass time."""

    name = "graph_rgd"

    def __init__(self, spark, work: str, seed: int):
        self.spark, self.work = spark, work
        self.path = os.path.join(work, "edges.tsv")
        self.props = gen.write_rgd_edges(self.path, seed, RGD_LINES)
        self.ref = checks.rgd_reference_counts(self.path,
                                               os.path.join(work, "tmp"))
        self.props["triangles"] = self.ref["simple"]
        self.props["triangles_faithful"] = self.ref["faithful"]
        self.input_rows = self.props["lines"]
        self.stream_runs = 0
        self.listener = _batch_listener()
        spark.streams.addListener(self.listener)

    def queries(self) -> list[Query]:
        from mapreduce_experiment_spark.operators import graph as G
        from mapreduce_experiment_spark.sources import read_edge_list

        spark, path = self.spark, self.path

        def read(tr):
            with tr.span("sources.read_edge_list"):
                df = read_edge_list(spark, path)
                with tr.span("exec.action"):
                    return df.count()

        def count(mode):
            def run(tr):
                with tr.span(f"graph.triangle_count_{mode}"):
                    df = G.triangle_count(read_edge_list(spark, path),
                                          mode=mode)
                    with tr.span("exec.action"):
                        return df.collect()[0][0]
            return run

        return [
            Query("read_edge_list", read, lambda n: n == self.props["lines"]),
            Query("triangle_count_simple", count("simple"),
                  lambda n: n == self.ref["simple"]),
            Query("triangle_count_faithful", count("faithful"),
                  lambda n: n == self.ref["faithful"]),
        ]

    def extras(self) -> list[Query]:
        return [Query("streaming_triangle_count", self._stream,
                      lambda n: n == self.ref["simple"])]

    def _stream(self, tr):
        """Canonicalize and write the edge set as two files, then count
        incrementally over them, one file per micro-batch (the shape of
        the registry's ``streaming_triangle_count``)."""
        from pyspark.sql import functions as F

        from mapreduce_experiment_spark.operators import graph as G
        from mapreduce_experiment_spark.sources import read_edge_list
        from mapreduce_experiment_spark.streaming.triangles import (
            streaming_triangles,
        )

        self.stream_runs += 1
        run_dir = os.path.join(self.work, f"stream_{self.stream_runs}")
        in_dir = os.path.join(run_dir, "edges_in")
        with tr.span("graph.canonical_edges"):
            (G.canonical_edges(read_edge_list(self.spark, self.path))
             .select(F.col("u").alias("src"), F.col("v").alias("dst"))
             .repartition(2).write.parquet(in_dir))
        with tr.span("streaming.streaming_triangles"):
            df = streaming_triangles(self.spark, in_dir, run_dir)
            with tr.span("exec.action"):
                return df.count()

    def after_pass(self) -> dict:
        """Micro-batch durations and state size of the pass's stream
        run; the run's directory is removed afterwards."""
        log = self.listener
        deadline = time.monotonic() + 5
        while log.terminated < self.stream_runs and time.monotonic() < deadline:
            time.sleep(0.02)
        batches, log.batches = log.batches, []
        run_dir = os.path.join(self.work, f"stream_{self.stream_runs}")
        if not os.path.isdir(run_dir):
            return {}
        in_bytes = dir_bytes(os.path.join(run_dir, "edges_in"))
        state = dir_bytes(run_dir) - in_bytes
        shutil.rmtree(run_dir, ignore_errors=True)
        return {"batch_s": batches, "state_bytes": state,
                "input_bytes": in_bytes}


def _batch_listener():
    """A StreamingQueryListener that keeps each non-empty micro-batch's
    duration and counts terminated queries."""
    from pyspark.sql.streaming import StreamingQueryListener

    class BatchLog(StreamingQueryListener):
        def __init__(self):
            self.batches: list[float] = []
            self.terminated = 0

        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            if event.progress.numInputRows > 0:
                self.batches.append(event.progress.batchDuration / 1000.0)

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            self.terminated += 1

    return BatchLog()


class CorpusCuration:
    """The LLM-data path: ``clean_corpus`` (near-dup removal, then
    repeated-span removal) and embedding near-dups served from a
    persisted SRP index make a pass. The probe's first call, in the
    warm-up pass after ``clean_corpus`` has warmed the JIT, builds the
    index, timed on its own.

    ``minhash_dedup_pairs`` is an extra query: ``dedup_survivors``, the
    first step of ``clean_corpus``, already runs it inside every pass,
    so a traced run executes it once on its own, for its layer time and
    its check against the exact-Jaccard oracle."""

    name = "corpus_curation"

    def __init__(self, spark, work: str, seed: int):
        self.spark = spark
        self.expected = load_expected()
        self.props = dict(self.expected["inputs"])
        self.input_rows = sum(self.props[t]["rows"] for t in CORPUS_TABLES)
        self.index_table = None
        self.index_build_s = 0.0

    def _build_index(self, emb, tr) -> None:
        from mapreduce_experiment_spark.operators import similarity as S
        from mapreduce_experiment_spark.sources.io import app_artifact_dir

        path = app_artifact_dir(self.spark, "srp_index_", "perfbench")
        self.index_table = os.path.basename(path)
        t0 = time.perf_counter()
        with tr.span("similarity.write_srp_index"):
            S.write_srp_index(emb, self.index_table, path=path)
        self.index_build_s = time.perf_counter() - t0

    def queries(self) -> list[Query]:
        return [Query("clean_corpus", self._clean, self._matches("clean_corpus")),
                Query("embedding_near_dups_indexed", self._probe,
                      self._matches("embedding_near_dups_indexed"))]

    def extras(self) -> list[Query]:
        return [Query("minhash_dedup_pairs", self._minhash,
                      self._matches("minhash_dedup_pairs"))]

    def _matches(self, name):
        return lambda res: checks.digest(*res) == self.expected[name]

    def _clean(self, tr):
        from mapreduce_experiment_spark.operators import dedup as D
        from mapreduce_experiment_spark.sources.tables import load_table

        docs = load_table(self.spark, CORPUS_DIR, "documents")
        with tr.span("dedup.dedup_survivors"):
            surv = D.dedup_survivors(docs, threshold=0.8)
        with tr.span("dedup.span_deduped_corpus"):
            df = D.span_deduped_corpus(surv)
            with tr.span("exec.action"):
                return _collect(df)

    def _minhash(self, tr):
        from mapreduce_experiment_spark.operators import dedup as D
        from mapreduce_experiment_spark.sources.tables import load_table

        docs = load_table(self.spark, CORPUS_DIR, "documents")
        with tr.span("dedup.minhash_dedup_pairs"):
            df = D.minhash_dedup_pairs(docs, threshold=0.8)
            with tr.span("exec.action"):
                return _collect(df)

    def _probe(self, tr):
        from mapreduce_experiment_spark.operators import similarity as S
        from mapreduce_experiment_spark.sources.tables import load_table

        emb = load_table(self.spark, CORPUS_DIR, "embeddings")
        if self.index_table is None:
            self._build_index(emb, tr)
        with tr.span("similarity.embedding_near_dups_from_index"):
            df = S.embedding_near_dups_from_index(
                self.spark, emb, self.index_table, threshold=0.45)
            with tr.span("exec.action"):
                return _collect(df.withColumnRenamed("cos", "cos_sim"))

    def after_pass(self) -> dict:
        return {}


WORKLOADS = {w.name: w for w in (GraphRGD, CorpusCuration)}


def seeded_order(queries: list[Query], seed: int) -> list[Query]:
    out = list(queries)
    random.Random(seed).shuffle(out)
    return out


def corpus_inputs() -> dict:
    """Row count and SHA-256 of each corpus table file."""
    import pyarrow.parquet as pq

    out = {}
    for t in CORPUS_TABLES:
        path = os.path.join(CORPUS_DIR, f"{t}.parquet")
        with open(path, "rb") as f:
            sha = hashlib.sha256(f.read()).hexdigest()
        out[t] = {"rows": pq.read_metadata(path).num_rows, "sha256": sha}
    return out


def load_expected() -> dict:
    with open(os.path.join(HERE, "expected_corpus.json")) as f:
        exp = json.load(f)
    if exp["inputs"] != corpus_inputs():
        raise RuntimeError("expected_corpus.json was recorded for other "
                           "tables; regenerate it with perfbench/oracles.py")
    return exp
