"""The closed loop every workload runs: one client, one op at a time.

A pass is the workload's op list for that pass, run in order. A run
makes a fixed number of passes:

* pass 0, the cold pass, reported as ``cold_pass_s``;
* ``warmup`` warm-up passes. Pass times on this engine fall for several
  passes while the JIT compiles the driver's and the executors' hot paths;
  each workload's count comes from a long run's pass-time curve and ends
  where that curve has flattened. They count in ``setup_s``;
* ``measured`` passes, the measurement window.

The counts are fixed, so every run on any host times the same passes of
the same op stream, and a traced and an untraced run of one seed cover the
same passes and the same table states: their difference in ``pass_s`` is
the cost of tracing.

Every op is timed from outside, around the public calls it makes. In a
traced run each op runs under its own Spark job group
``p<pass>.<op>.<occurrence>`` (occurrence counts the op's earlier calls in
that pass), so the event-log fold can attribute jobs, stages and tasks to
one call.
"""

from __future__ import annotations

import time
from collections import Counter
from dataclasses import dataclass, field
from typing import Callable

from pyspark.sql import SparkSession


@dataclass
class Op:
    """One operation of a pass. ``run`` returns ``(build_s, exec_s)``:
    the time until the public call returned a plan or committed, and the
    time to force or collect what it returned (0 when nothing is left)."""

    name: str
    kind: str  # "write" or "read"
    run: Callable[[SparkSession], tuple[float, float]]


@dataclass
class Sample:
    pass_idx: int
    op: str
    group: str  # the op's job group in a traced run
    kind: str
    build_s: float
    exec_s: float
    start: float  # epoch seconds, to line up with event-log times
    end: float

    @property
    def total_s(self) -> float:
        return self.build_s + self.exec_s


@dataclass
class LoopResult:
    cold_pass_s: float
    passes_s: list[float]  # the measured passes
    pass_spans: list[tuple[float, float]]  # their time.monotonic() bounds
    samples: list[Sample]  # the measured ops
    window_s: float
    attempted: int  # ops attempted over all passes
    errors: list[str] = field(default_factory=list)


def run_pass(spark: SparkSession, ops: list[Op], pass_idx: int, traced: bool,
             errors: list[str]) -> tuple[float, list[Sample]]:
    """Run one pass; an op that raises is recorded in ``errors`` and the
    pass goes on with the next op."""
    sc = spark.sparkContext
    samples = []
    seen: Counter = Counter()
    t0 = time.perf_counter()
    for op in ops:
        group = f"p{pass_idx}.{op.name}.{seen[op.name]}"
        seen[op.name] += 1
        if traced:
            sc.setJobGroup(group, op.name)
        start = time.time()
        try:
            build_s, exec_s = op.run(spark)
        except Exception as e:  # an op failure is a counted result, not a crash
            errors.append(f"pass {pass_idx} {op.name}: {type(e).__name__}: {e}")
            continue
        finally:
            if traced:
                sc.setLocalProperty("spark.jobGroup.id", None)
        samples.append(Sample(pass_idx, op.name, group, op.kind, build_s, exec_s,
                              start, time.time()))
        # free what the op cached before the next op, outside its span
        spark.catalog.clearCache()
    return time.perf_counter() - t0, samples


def run_loop(spark: SparkSession, pass_ops: Callable[[int], list[Op]], warmup: int,
              measured: int, traced: bool, log: Callable[[str], None]) -> LoopResult:
    """Cold pass, ``warmup`` passes, then ``measured`` timed passes."""
    errors: list[str] = []
    attempted = 0

    def one_pass(idx: int) -> tuple[float, list[Sample]]:
        nonlocal attempted
        ops = pass_ops(idx)
        attempted += len(ops)
        return run_pass(spark, ops, idx, traced, errors)

    cold, _ = one_pass(0)
    warm = [one_pass(i)[0] for i in range(1, 1 + warmup)]
    log(f"cold pass {cold:.3f}s; warm-up " + " ".join(f"{p:.3f}" for p in warm))
    passes: list[float] = []
    spans: list[tuple[float, float]] = []
    samples: list[Sample] = []
    w0 = time.perf_counter()
    for i in range(1 + warmup, 1 + warmup + measured):
        m0 = time.monotonic()
        p, s = one_pass(i)
        spans.append((m0, time.monotonic()))
        passes.append(p)
        samples.extend(s)
    window = time.perf_counter() - w0
    log(f"measured {len(passes)} passes in {window:.3f}s: "
        + " ".join(f"{p:.3f}" for p in passes))
    return LoopResult(cold, passes, spans, samples, window, attempted, errors)
