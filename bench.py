"""Benchmark runner: every registered query at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

Prints ONE JSON line:
  {"metric": "total_query_seconds", "value": N, "unit": "sec",
   "queries": {name: sec, ...}, "sf": 0.1, "cpus": C}

``cpus`` is the session's defaultParallelism — the core count the numbers
were taken at.

Each query is forced end-to-end with a noop sink (full plan execution,
no driver-side collect cost). Session startup is excluded; a warm-up
query primes the JVM/codegen before timing.

Each query runs $SPARK_GRAFT_BENCH_PASSES times (default 2) and the
minimum is recorded: pass 1 pays per-plan JIT/codegen compilation, and
single-pass totals showed ~20% run-to-run noise in one long JVM session —
min-of-2 measures steady-state throughput, which is the quantity that
scales to a cluster (where codegen compile time is amortized across
executors and hours, not paid per 1-second query).
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from mr_spark import operators as ops
from mr_spark.session import get_spark


def force(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1).rstrip(".")) if m else -1.0
    # Quiet the tail: the driver parses the LAST ~2000 chars of stdout/err —
    # round 1's summary line was crowded out by a WARN flood (WindowExec
    # etc.). Remaining WARN sources are all documented-benign (bounded
    # small-relation windows), so run the bench at ERROR, and kill the
    # console progress bar (its \r-spam is the other tail polluter).
    spark = get_spark(
        "mr-spark-bench",
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    cpus = spark.sparkContext.defaultParallelism

    queries = ops.queries()
    # warm-up: JVM JIT + codegen + parquet footer caches
    force(queries["early_exit"](spark, sf_dir))

    n_passes = int(os.environ.get("SPARK_GRAFT_BENCH_PASSES", "2"))
    # Sweep-major order: every query once, then the whole suite again.
    # Back-to-back passes of one query measured the JIT compile queue, not
    # the query — each first execution enqueues big generated methods for
    # C2, and an immediate second pass still runs partly interpreted
    # (observed: 16s "min" for a 2s-steady-state query). A full sweep
    # between a query's passes gives the compiler minutes instead of
    # milliseconds, so min-of-sweeps records actual steady-state
    # throughput — the quantity that matters on a cluster, where codegen
    # compile is amortized across executors and hours.
    timings: dict[str, float] = {}
    # per-pass traces (diagnostics for session-level creep — r4's driver
    # bench drifted ~11% uniformly vs r3 and the r5 rerun recovered it,
    # see TODO.md §drift; pass-N-vs-pass-1 ratios distinguish "JVM got
    # slower over the session" from "this run's tail hit GC pauses")
    passes_trace: dict[str, list[float]] = {}
    for _ in range(n_passes):
        for name, fn in queries.items():
            t0 = time.time()
            force(fn(spark, sf_dir))
            elapsed = time.time() - t0
            # a few queries persist intermediates their final plan reads
            # (IVF's Lloyd assignment, the dedup shingle indexes); once
            # forced, those blocks are dead weight — drop them so later
            # queries don't inherit storage-memory pressure
            spark.catalog.clearCache()
            timings[name] = round(min(timings.get(name, float("inf")), elapsed), 3)
            passes_trace.setdefault(name, []).append(round(elapsed, 3))

    # The driver's stdout capture truncated round 1's ~4 KB line (BENCH_r01
    # "parsed": null — only the tail survived). Keep the one stdout line
    # SHORT: headline queries only, full per-query map in BENCH_DETAIL.json
    # next to this script.
    detail_path = os.path.join(os.path.dirname(os.path.abspath(__file__)), "BENCH_DETAIL.json")
    with open(detail_path, "w") as f:
        json.dump(
            {
                "metric": "total_query_seconds",
                "value": round(sum(timings.values()), 3),
                "unit": "sec",
                "sf": sf,
                "cpus": cpus,
                "n_queries": len(timings),
                "passes": n_passes,
                "queries": timings,
                "per_pass": passes_trace,
            },
            f,
            indent=1,
            sort_keys=True,
        )
    headline = [
        "wc", "tier_a_wc", "indexer", "q1_pricing_summary", "q18_large_orders",
        "minhash_lsh_pairs", "ngram_jaccard_pairs", "ann_ivf_topk",
    ]
    print(
        json.dumps(
            {
                "metric": "total_query_seconds",
                "value": round(sum(timings.values()), 3),
                "unit": "sec",
                "sf": sf,
                "cpus": cpus,
                "n_queries": len(timings),
                "queries": {k: timings[k] for k in headline if k in timings},
                "detail": "BENCH_DETAIL.json",
            }
        )
    )


if __name__ == "__main__":
    main()
