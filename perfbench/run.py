"""Benchmark entry point.

    python3 perfbench/run.py --workload <text_corpus|snapshot_dml> --seed N \
        --seconds S --trace 0|1

Run from the root of a checkout of the repository. A run starts one
worker process (``worker.py``; with ``--trace 1`` a traced one) in a
session of its own, with one SparkSession on ``local[N]``
(N = min(2, CPUs)); samples the memory of the whole process tree (driver,
JVM, Python workers) from ``/proc`` during every measured pass; and removes every process and its
fresh scratch directory at the end. The last line of standard output is
one JSON object with ``correct``, ``attempted``, ``failed`` and
``metrics``: the end-to-end metrics with ``--trace 0``, the per-layer
metrics with ``--trace 1``.
The exit code is 0 only when every op ran and every output matched.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import host  # noqa: E402

WORKLOADS = ("text_corpus", "snapshot_dml")
# local[2] leaves two of a 4-vCPU box to the JIT, GC and Python driver:
# at local[4] the same op loop ran slower and its run-to-run spread was
# about twice as wide
MAX_CPUS = 2
TIMEOUT_S = 170  # a run must end within 180 s
# the inputs are a few MB; a small heap also keeps peak memory from
# depending on how far the JVM happened to grow its heap
DRIVER_MEM = "1g"


def proc_table() -> list[tuple[int, int, int]]:
    """``(pid, ppid, pgid)`` of every live process, from /proc."""
    out = []
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        fields = stat[stat.rindex(")") + 2:].split()
        if fields[0] != "Z":
            out.append((int(name), int(fields[1]), int(fields[2])))
    return out


def tree(root_pid: int) -> set[int]:
    """``root_pid``, every live process below it, and every live member of
    its process group (a child whose parent exited is reparented, but keeps
    its group)."""
    table = proc_table()
    children: dict[int, list[int]] = {}
    for pid, ppid, _ in table:
        children.setdefault(ppid, []).append(pid)
    out, todo = set(), [root_pid]
    while todo:
        p = todo.pop()
        out.add(p)
        todo.extend(children.get(p, []))
    return out | {pid for pid, _, pgid in table if pgid == root_pid}


def pss_kb(pid: int) -> int:
    """Proportional resident set of one process: pages shared between the
    Python daemon and the workers it forks count once across the tree."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class RssSampler(threading.Thread):
    """The summed proportional resident set of a process tree, sampled
    every 200 ms as ``(time.monotonic(), kB)``."""

    def __init__(self, pid: int):
        super().__init__(daemon=True)
        self.pid, self.samples, self.stop_evt = pid, [], threading.Event()

    def run(self) -> None:
        while not self.stop_evt.wait(0.2):
            self.samples.append((time.monotonic(), sum(pss_kb(p) for p in tree(self.pid))))

    def pass_peak_mb(self, spans: list[tuple[float, float]]) -> float:
        """Median over the measured passes of each pass's peak. A run-wide
        maximum depends on when garbage collections happened to run; the
        median of per-pass peaks is the steady state's high-water mark."""
        peaks = [max((kb for t, kb in self.samples if lo <= t <= hi), default=0)
                 for lo, hi in spans]
        return statistics.median(peaks) / 1024


def stop_tree(proc: subprocess.Popen) -> None:
    """Terminate the worker, everything below it and its process group,
    and wait until every one of them has ended."""
    for sig in (signal.SIGTERM, signal.SIGKILL):
        for p in tree(proc.pid) - {os.getpid()}:
            try:
                os.kill(p, sig)
            except ProcessLookupError:
                pass
        proc.poll()
        deadline = time.monotonic() + 10
        while time.monotonic() < deadline:
            if proc.poll() is not None and not (tree(proc.pid) - {proc.pid}):
                return
            time.sleep(0.05)
    raise RuntimeError(f"processes of worker {proc.pid} survived SIGKILL")


def run_worker(args, cpus: int, env: dict, run_dir: str, traced: int,
               deadline: float) -> dict | None:
    """One worker process; its result with the peak memory of its process
    tree, or None when it failed or ran past ``deadline``."""
    os.makedirs(os.path.join(run_dir, "tmp"))
    out_path = os.path.join(run_dir, "result.json")
    proc = subprocess.Popen(
        [sys.executable, os.path.join(HERE, "worker.py"), "--workload", args.workload,
         "--seed", str(args.seed), "--seconds", str(args.seconds), "--traced", str(traced),
         "--cpus", str(cpus), "--run-dir", run_dir, "--t0", repr(time.monotonic()),
         "--out", out_path],
        cwd=ROOT, env=dict(env, TMPDIR=os.path.join(run_dir, "tmp")),
        start_new_session=True, stdout=sys.stderr, stderr=sys.stderr,
    )
    sampler = RssSampler(proc.pid)
    sampler.start()
    try:
        code = proc.wait(timeout=max(1.0, deadline - time.monotonic()))
    except subprocess.TimeoutExpired:
        code = None
    finally:
        sampler.stop_evt.set()
        sampler.join()
        stop_tree(proc)
    if code != 0:
        why = "timed out" if code is None else f"exited {code}"
        print(f"perfbench: worker {why} without a result", file=sys.stderr)
        return None
    with open(out_path) as f:
        result = json.load(f)
    result["metrics"]["peak_rss_mb"] = sampler.pass_peak_mb(result["pass_spans"])
    return result


def units(key: str) -> dict[str, str]:
    """``{name: unit}`` of the ``end_to_end`` or ``per_layer`` metrics that
    ``BENCHMARK.json`` lists."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[key]}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, "mr_spark", "session.py")):
        print(f"perfbench: no mr_spark package under {ROOT}; run from a checkout",
              file=sys.stderr)
        return 2

    cpus = min(MAX_CPUS, os.cpu_count() or 1)
    scratch_root = os.path.join(ROOT, ".perfbench_scratch")
    run_dir = os.path.join(scratch_root, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    env = dict(os.environ)
    env.update({
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_SCRATCH_DIR": run_dir,
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "PYTHONPATH": os.pathsep.join(filter(None, [ROOT, env.get("PYTHONPATH")])),
        "PYTHONHASHSEED": "0",
    })
    env.pop("SPARK_GRAFT_SF_DIR", None)
    before = host.cpu_times()
    t0 = time.monotonic()
    try:
        result = run_worker(args, cpus, env, run_dir, args.trace, deadline=t0 + TIMEOUT_S)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
        try:
            os.rmdir(scratch_root)
        except OSError:
            pass
    desc = host.describe(before, host.cpu_times(), ROOT, cpus)
    desc.update({"workload": args.workload, "seed": args.seed,
                 "wall_s": round(time.monotonic() - t0, 3)})
    print(f"host {json.dumps(desc)}")
    if result is None:
        return 1

    if args.trace:
        wanted = units("per_layer")
        # a layer this workload never calls reads 0
        metrics = {k: result["layers"].get(k, 0) for k in wanted}
    else:
        wanted = units("end_to_end")
        metrics = {k: result["metrics"][k] for k in wanted}
    fail_ratio = result["failed"] / max(1, result["attempted"])
    print("run " + json.dumps({
        "sizes": result["sizes"], "samples": result["info"], "fail_ratio": fail_ratio,
        "attempted": result["attempted"], "failed": result["failed"]}))
    for line in result["errors"] + result["failures"]:
        print(f"FAIL {line}")
    for k in metrics:
        print(f"{k:32s} {metrics[k]:.6g} {wanted[k]}")
    correct = result["failed"] == 0
    print(json.dumps({
        "correct": correct,
        "attempted": result["attempted"],
        "failed": result["failed"],
        "metrics": {k: {"value": metrics[k], "unit": wanted[k]} for k in sorted(metrics)},
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
