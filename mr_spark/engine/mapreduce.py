"""The Spark executor for Tier A MapReduce jobs.

Pipeline (one expression — SURVEY.md §3's restatement):

    input (k1, v1) pairs
      → flatMap(app.map)                      # E2
      → repartitionAndSortWithinPartitions    # E3 shuffle + E5 sort
          (hash(k2) % n_reduce, sort by (k2, v2))
      → consecutive-run grouping              # E6
      → app.reduce per group                  # E7
      → (k2, v3) pairs / "k2 v3" text files   # E8

The load-bearing semantic (SURVEY.md §1): reduce receives values in
ascending lexicographic order, because the engine sorts the full (k2, v2)
pair — reproduced here with secondary sort inside each shuffle partition,
NOT with groupByKey (which has no order guarantee).

Spark supplies the reference's entire control plane (coordinator.rs,
worker.rs): scheduling R1, the stage barrier R2, straggler re-execution R3
(spark.task.maxFailures / speculation), commit dedup R4-R5
(OutputCommitCoordinator + FileOutputCommitter), shutdown R6.
"""

from __future__ import annotations

import os
from collections.abc import Iterable, Iterator

from pyspark.rdd import RDD, portable_hash
from pyspark.sql import SparkSession

from .api import App

DEFAULT_N_REDUCE = 10  # reference default: coordinator.rs:31-32, Makefile:17


def _group_and_reduce(app: App):
    """Consecutive-run grouping over a (k,v)-sorted partition iterator —
    the itertools-group_by step (sequential/src/main.rs:33-37) done
    streamingly: one group in memory at a time, not the whole partition."""

    def fn(part: Iterator[tuple[str, str]]) -> Iterator[tuple[str, str]]:
        cur_key: str | None = None
        cur_vals: list[str] = []
        for k, v in part:
            if k != cur_key:
                if cur_key is not None:
                    yield cur_key, app.reduce(cur_key, cur_vals)
                cur_key, cur_vals = k, [v]
            else:
                cur_vals.append(v)
        if cur_key is not None:
            yield cur_key, app.reduce(cur_key, cur_vals)

    return fn


def run_mapreduce(
    spark: SparkSession,
    inputs: RDD | Iterable[tuple[str, str]],
    app: App,
    n_reduce: int = DEFAULT_N_REDUCE,
) -> RDD:
    """Run a MapReduce job; returns an RDD of (k2, v3) with ``n_reduce``
    hash partitions (partition j holds exactly the keys the reference's
    reducer j would hold, modulo the hash function)."""
    sc = spark.sparkContext
    rdd = inputs if isinstance(inputs, RDD) else sc.parallelize(list(inputs))
    intermediate = rdd.flatMap(lambda kv: app.map(kv[0], kv[1]))
    # key by the full (k2, v2) pair so the within-partition sort gives the
    # sorted-values guarantee; partition on k2 only.
    paired = intermediate.map(lambda kv: ((kv[0], kv[1]), None))
    sorted_parts = paired.repartitionAndSortWithinPartitions(
        numPartitions=n_reduce,
        partitionFunc=lambda key: portable_hash(key[0]),
    )
    return sorted_parts.map(lambda kvn: kvn[0]).mapPartitions(
        _group_and_reduce(app), preservesPartitioning=True
    )


def save_text_output(result: RDD, out_dir: str) -> list[str]:
    """E8/E9 sink: one text file of ``"k v"`` lines per reduce partition
    (Spark's FileOutputCommitter supplies the temp-write + atomic-rename
    protocol the worker hand-rolls, worker.rs:178-188). Returns the merged,
    globally sorted lines as well — the ``sort out/mr-out* | grep .``
    convention (Makefile:33-35)."""
    result.map(lambda kv: f"{kv[0]} {kv[1]}").saveAsTextFile(out_dir)
    lines: list[str] = []
    for name in os.listdir(out_dir):
        if name.startswith("part-"):
            with open(os.path.join(out_dir, name), encoding="utf-8") as f:
                lines.extend(line.rstrip("\n") for line in f if line.strip())
    return sorted(lines)


def run_files(
    spark: SparkSession,
    input_glob: str,
    app: App,
    out_dir: str,
    n_reduce: int = DEFAULT_N_REDUCE,
) -> list[str]:
    """The reference's full CLI flow in one call (Makefile:6-7,16-21):
    whole-file scan of ``input_glob`` → MapReduce → ``n_reduce`` text files
    under ``out_dir`` → merged, globally sorted lines returned (the
    ``sort out/mr-out* | grep .`` convention)."""
    # wholeTextFiles yields URIs; the reference's k1 is the RAW path
    # (sequential/src/main.rs:24, worker.rs:112) and the indexer app emits
    # k1 into its posting lists — reduce to the plain path for byte
    # parity. urlparse handles every scheme form ('file:/p', 'file:///p',
    # 'hdfs://nn/p'); a bare 'file:' removeprefix only matched the first.
    from urllib.parse import urlparse

    rdd = spark.sparkContext.wholeTextFiles(input_glob).map(
        lambda kv: (urlparse(kv[0]).path or kv[0], kv[1])
    )
    result = run_mapreduce(spark, rdd, app, n_reduce)
    return save_text_output(result, out_dir)


def run_on_documents(
    spark: SparkSession, sf_dir: str, app: App, n_reduce: int = DEFAULT_N_REDUCE
) -> RDD:
    """Convenience: run an app over the documents table, with
    (k1, v1) = ("doc_<id>", text) standing in for (path, contents)."""
    from ..sources import load_table

    docs = load_table(spark, sf_dir, "documents")
    inputs = docs.select("doc_id", "text").rdd.map(
        lambda r: (f"doc_{r[0]}", r[1])
    )
    return run_mapreduce(spark, inputs, app, n_reduce)


def run_on_documents_batched(spark: SparkSession, sf_dir: str, app: App):
    """Arrow-batched executor for the same App contract — returns a
    DataFrame of (k string, v string).

    Identical semantics to :func:`run_mapreduce` (per-record ``app.map``,
    values into ``app.reduce`` ascending-sorted, one reduce call per key —
    pinned against the RDD engine by test_engine_differential), but the
    plumbing is DataFrame-native: mapInPandas moves records in Arrow
    batches instead of pickled rows, the shuffle carries Tungsten-encoded
    string pairs, and the engine sort (E5) is Spark's own
    sortWithinPartitions on (k, v) — UTF-8 binary order, the same total
    order Python's str sort gives.

    The reduce side has no fixed bucket count: ``repartition("k")``
    hash-partitions into ``spark.sql.shuffle.partitions`` and AQE
    coalesces whole partitions to fit the shuffle size (it splits skewed
    partitions only for joins and rebalance, so a key never spans two
    reduce tasks). The reason is a fixed cost per Python task (~0.1 s
    on a 4-vCPU box whatever the task does): with ten fixed reduce
    buckets, tier_a_wc on a 1,500-doc corpus ran 12 tasks in 1.21 s of
    executor time; with the coalesced read it runs 3 tasks in 0.48 s.

    The RDD engine (run_mapreduce) stays the reference-faithful path:
    ``n_reduce`` buckets, run_files' text sink and the partition-contract
    test (partition j = reference reducer j under portable_hash) only
    hold there. Here the hash partitioner is Spark SQL's — key
    co-location holds, reducer numbering doesn't, and no query depends
    on it.
    """
    import pandas as pd
    from pyspark.sql import functions as F

    from ..sources import load_table

    docs = load_table(spark, sf_dir, "documents").select(
        F.concat(F.lit("doc_"), F.col("doc_id").cast("string")).alias("k"),
        F.col("text").alias("v"),
    )

    def map_phase(batches):
        for pdf in batches:
            ks: list[str] = []
            vs: list[str] = []
            for k1, v1 in zip(pdf["k"], pdf["v"]):
                for k2, v2 in app.map(k1, v1):
                    ks.append(k2)
                    vs.append(v2)
            yield pd.DataFrame({"k": ks, "v": vs})

    def reduce_phase(batches):
        cur_key: str | None = None
        cur_vals: list[str] = []
        out_k: list[str] = []
        out_v: list[str] = []
        for pdf in batches:
            for k, v in zip(pdf["k"], pdf["v"]):
                if k != cur_key:
                    if cur_key is not None:
                        out_k.append(cur_key)
                        out_v.append(app.reduce(cur_key, cur_vals))
                    cur_key, cur_vals = k, [v]
                else:
                    cur_vals.append(v)
            if len(out_k) >= 10_000:
                yield pd.DataFrame({"k": out_k, "v": out_v})
                out_k, out_v = [], []
        if cur_key is not None:
            out_k.append(cur_key)
            out_v.append(app.reduce(cur_key, cur_vals))
        if out_k:
            yield pd.DataFrame({"k": out_k, "v": out_v})

    intermediate = docs.mapInPandas(map_phase, schema="k string, v string")
    sorted_parts = intermediate.repartition("k").sortWithinPartitions("k", "v")
    return sorted_parts.mapInPandas(reduce_phase, schema="k string, v string")
