"""A benchmark run of one workload, in its own process.

Started by ``run.py``, which owns the environment, the scratch directory
and the process tree. Writes its result as JSON to ``--out``.

An untraced run measures the end-to-end metrics. A traced run
(``--traced 1``) makes the same passes with the Spark event log on and one
job group per op; the per-layer metrics come from it.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
from collections import Counter

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from catalog import DML_OPS, TEXT_OPS, op_metrics  # noqa: E402
from harness import run_loop  # noqa: E402
from stats import MIN_SAMPLES, median, summarize  # noqa: E402


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", flush=True)


def workload_class(name: str):
    if name == "text_corpus":
        from text_corpus import TextCorpus
        return TextCorpus
    if name == "snapshot_dml":
        from snapshot_dml import SnapshotDml
        return SnapshotDml
    raise SystemExit(f"unknown workload {name!r}")


def start_session(run_dir: str, cpus: int, event_log_dir: str | None):
    from mr_spark.session import get_spark

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
    }
    if event_log_dir:
        os.makedirs(event_log_dir, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + event_log_dir,
            # Spark 4.1 compresses event logs with zstd by default and
            # rolls them into a directory; the fold reads one plain file
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    t0 = time.perf_counter()
    spark = get_spark("perfbench", cpus=cpus, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark, time.perf_counter() - t0


def stop_jvm() -> None:
    """End the gateway JVM and reap it, so it never outlives this process.
    The JVM exits when its stdin closes."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def measured_passes(wl, seconds: float) -> int:
    """The window's pass count: as many passes as take ``seconds`` at the
    workload's nominal steady pass time, and enough for a tail-sized
    sample of every op kind. It depends on ``seconds`` alone, never on
    how fast this host runs."""
    per_pass = Counter(kind for _, kind in wl.pass_kinds())
    need = max(-(-MIN_SAMPLES // k) for k in per_pass.values())
    return max(need, round(seconds / wl.NOMINAL_PASS_S))


def end_to_end(res, setup_s: float) -> dict:
    ops = summarize([s.total_s for s in res.samples])
    out = {
        "pass_s": median(res.passes_s),
        "cold_pass_s": res.cold_pass_s,
        "op_p50_s": ops["p50"],
        "op_tail_s": ops["tail"],
        "setup_s": setup_s,
    }
    info = {"op_samples": ops["n"], "op_tail_pct": round(ops["tail_pct"], 2),
            "passes": len(res.passes_s)}
    for kind in ("write", "read"):
        xs = [s.total_s for s in res.samples if s.kind == kind]
        if len(xs) >= MIN_SAMPLES:
            k = summarize(xs)
            out[f"{kind}_p50_s"], out[f"{kind}_tail_s"] = k["p50"], k["tail"]
            info[f"{kind}_samples"], info[f"{kind}_tail_pct"] = k["n"], round(k["tail_pct"], 2)
    return out, info


def traced_layers(res, spark_stats: dict) -> dict:
    """Per-layer metrics of a traced run, from the benchmark's own spans
    and the event-log fold."""
    from eventlog import union_length

    out = {}
    first = min(s.pass_idx for s in res.samples)
    for op in TEXT_OPS + DML_OPS:
        fields = op_metrics(op)
        ss = [s for s in res.samples if s.op == op]
        # counts of one call: the op's first call in the first measured
        # pass, whose op stream the seed alone fixes
        g = spark_stats.get(f"p{first}.{op}.0")
        for f, name in fields.items():
            if f.endswith("_s") and ss:
                out[name] = median([getattr(s, f) for s in ss])
            elif not f.endswith("_s") and g:
                out[name] = getattr(g, f)
    groups = [spark_stats[s.group] for s in res.samples if s.group in spark_stats]
    n = len(res.passes_s)
    tot = lambda attr: sum(getattr(g, attr) for g in groups)  # noqa: E731
    out.update({
        "jobs_per_pass": tot("jobs") / n,
        "stages_per_pass": tot("stages") / n,
        "tasks_per_pass": tot("tasks") / n,
        "executor.run_s": tot("run_ms") / 1000 / n,
        "executor.cpu_s": tot("cpu_ms") / 1000 / n,
        "executor.gc_s": tot("gc_ms") / 1000 / n,
        "input_mb": tot("input_bytes") / 1e6 / n,
        "shuffle.read_mb": tot("shuffle_read_bytes") / 1e6 / n,
        "shuffle.write_mb": tot("shuffle_write_bytes") / 1e6 / n,
        "spill_mb": tot("spill_bytes") / 1e6 / n,
        "failed_tasks": tot("failed_tasks"),
    })
    skews = []
    for g in groups:
        for times in g.stage_task_ms.values():
            if len(times) >= 2:
                skews.append(max(times) / max(1.0, median(times)))
    out["task_skew"] = max(skews, default=1.0)
    spans = [sp for g in groups for sp in g.job_spans]
    driver_only = []
    for i in sorted({s.pass_idx for s in res.samples}):
        ss = [s for s in res.samples if s.pass_idx == i]
        lo, hi = ss[0].start, ss[-1].end
        driver_only.append((hi - lo) - union_length(spans, lo, hi))
    out["driver_only_s"] = median(driver_only)
    return out


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--traced", type=int, choices=(0, 1), required=True)
    ap.add_argument("--cpus", type=int, required=True)
    ap.add_argument("--run-dir", required=True)
    ap.add_argument("--t0", type=float, required=True, help="time.monotonic() at spawn")
    ap.add_argument("--out", required=True)
    args = ap.parse_args()
    traced = bool(args.traced)

    ev_dir = os.path.join(args.run_dir, "eventlog") if traced else None
    spark, session_s = start_session(args.run_dir, args.cpus, ev_dir)
    wl = workload_class(args.workload)(args.seed, args.run_dir)
    t0 = time.perf_counter()
    sizes = wl.prepare(spark)
    log(f"session {session_s:.3f}s, inputs {time.perf_counter() - t0:.3f}s")
    warmup = wl.WARMUP_PASSES
    res = run_loop(spark, wl.pass_ops, warmup, measured_passes(wl, args.seconds), traced, log)
    setup_s = time.monotonic() - res.window_s - args.t0
    # correctness, outside every timed window
    t0 = time.perf_counter()
    failures = wl.check(spark)
    log(f"checked outputs in {time.perf_counter() - t0:.1f}s: {len(failures)} mismatches")
    metrics, info = end_to_end(res, setup_s)
    result = {"sizes": sizes, "info": info, "metrics": metrics, "pass_spans": res.pass_spans,
              "attempted": res.attempted, "failed": len(res.errors) + len(failures),
              "errors": res.errors[:20], "failures": failures[:20]}
    if traced:
        layers = {"session.start_s": session_s, "sources.scan_s": wl.scan_s(spark),
                  "trace.pass_s": metrics["pass_s"],
                  **(wl.acid_metrics(1 + warmup) if hasattr(wl, "acid_metrics") else {}),
                  **{k: v for k, v in metrics.items() if k.startswith(("write_", "read_"))}}
    spark.stop()
    if traced:
        from eventlog import event_log_file, fold

        result["layers"] = {**traced_layers(res, fold(event_log_file(ev_dir))), **layers}
    stop_jvm()
    with open(args.out, "w") as f:
        json.dump(result, f)
    return 0


if __name__ == "__main__":
    sys.exit(main())
