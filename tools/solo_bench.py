"""Per-query bench: fresh tuned session, warm-up, then N timed passes of
each named query, in order, in ONE session at $SPARK_GRAFT_SF_DIR
(default sf0.1). Mirrors bench.py's timing (noop-sink force, clearCache
between passes) so numbers are directly comparable to BENCH_DETAIL
entries; naming several queries reproduces session-context effects a
lone query can't see. Usage:
    python tools/solo_bench.py <query> [query ...] [n_passes]
Prints one JSON line {"query": ..., "passes": [...], "min": ...} per
query, then {"total": <sum of mins>, "n": <queries>}."""
from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from mr_spark import operators as ops
from mr_spark.session import get_spark


def main() -> None:
    names = sys.argv[1:]
    n = int(names.pop()) if len(names) > 1 and names[-1].isdigit() else 3
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("mr-spark-solo", extra_conf={"spark.ui.showConsoleProgress": "false"})
    spark.sparkContext.setLogLevel("ERROR")
    qs = ops.queries()
    qs["early_exit"](spark, sf_dir).write.format("noop").mode("overwrite").save()
    mins = {}
    for name in names:
        trace = []
        for _ in range(n):
            t0 = time.time()
            qs[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
            trace.append(round(time.time() - t0, 3))
            spark.catalog.clearCache()
        mins[name] = min(trace)
        print(
            json.dumps({"query": name, "sf_dir": sf_dir, "passes": trace, "min": mins[name]}),
            flush=True,
        )
    print(json.dumps({"total": round(sum(mins.values()), 3), "n": len(mins)}))


if __name__ == "__main__":
    main()
