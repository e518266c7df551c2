"""Dump .explain("formatted") for named queries to <out_dir>/<q>_<tag>.txt.

Usage: python tools/plandump.py <out_dir> <tag> <query> [query ...]
e.g.   python tools/plandump.py plans/r10 after dedup_spans
Tag names the side of a change ("before" / "after"), so plan-shape
claims can be checked against the two dumps.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from mr_spark import operators as ops
from mr_spark.session import get_spark


def main() -> None:
    out_dir, tag = sys.argv[1], sys.argv[2]
    names = sys.argv[3:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    os.makedirs(out_dir, exist_ok=True)
    spark = get_spark("plandump", extra_conf={"spark.ui.showConsoleProgress": "false"})
    spark.sparkContext.setLogLevel("ERROR")
    qs = ops.queries()
    for name in names:
        df = qs[name](spark, sf_dir)
        plan = df._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
        )
        path = os.path.join(out_dir, f"{name}_{tag}.txt")
        with open(path, "w") as f:
            f.write(plan)
        n_ex = plan.count("Exchange")
        n_py = plan.count("EvalPython") + plan.count("MapInPandas") + plan.count("MapInArrow")
        print(f"{name}: {len(plan)}B exchanges~{n_ex} python-nodes~{n_py} -> {path}")
        spark.catalog.clearCache()


if __name__ == "__main__":
    main()
