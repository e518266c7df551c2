"""snapshot_dml: a seeded op stream of writes and reads on one
``SnapshotTable``.

Every write really commits: ``update``, ``delete``, ``merge_upsert`` and
``append`` through the Python API, DELETE, UPDATE and MERGE as SQL text
through ``sql_dml.execute_dml``, and a ``compact`` right after each
``append``, which folds the append's extra file per bucket.
Reads run beside them: ``read`` with a ``where``, a time-travel
``read(version=...)`` and ``changes``. A plain-Python model replays the
same stream; each read's result and the final table are diffed against
it after the measurement window.
"""

from __future__ import annotations

import os
import random
import time
from collections import Counter

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from gen import GROUPS, keyed_rows
from harness import Op

N_ROWS = 5_000
N_BUCKETS = 4
VIEW = "perfbench_dml"
SRC_VIEW = "perfbench_dml_src"
SCHEMA = "k bigint, grp string, x double, n bigint"
UPDATE_WIDTH, DELETE_WIDTH, READ_WIDTH = 200, 40, 300
MERGE_MATCHED, MERGE_NEW, APPEND_ROWS = 150, 50, 100
TRAVEL_BACK = 16  # time travel reaches at most this many versions back
CHANGES_BACK = 8  # changes() spans this many versions
# one pass; the seed shuffles the order, and compact follows append. Its
# 8 writes and 7 reads give each kind a tail-sized sample (stats.MIN_SAMPLES)
# in three passes
PASS_OPS = (
    "update", "delete", "merge_upsert", "append", "sql_delete", "sql_update", "sql_merge",
    "read", "read", "read", "read_version", "read_version", "changes", "changes",
)
WRITE_OPS = {"update", "delete", "merge_upsert", "append", "sql_delete", "sql_update",
             "sql_merge", "compact"}


def _agg(model: dict) -> tuple[int, float, int]:
    return (len(model), sum(r[1] for r in model.values()), sum(r[2] for r in model.values()))


class SnapshotDml:
    name = "snapshot_dml"
    # on a 4-vCPU VM pass times fell over the three passes after the cold
    # one in most runs (7.6 6.6 5.6 | 6.8 5.8 5.7 s; 7.1 6.5 6.2 | 6.2 6.2
    # 6.1 s), and over up to six in the slowest, but each more warm-up pass
    # adds about a tenth to a run's time. NOMINAL_PASS_S is the steady pass
    # time
    WARMUP_PASSES = 3
    NOMINAL_PASS_S = 6.0

    @staticmethod
    def pass_kinds() -> list[tuple[str, str]]:
        names = PASS_OPS + ("compact",)
        return [(n, "write" if n in WRITE_OPS else "read") for n in names]

    def __init__(self, seed: int, run_dir: str):
        self.seed = seed
        self.dir = os.path.join(run_dir, "snapshot_dml")
        self.rng = random.Random(seed ^ 0xD31)
        # replay model: key -> (grp, x, n), and per committed version the
        # aggregate and the rows each commit changed
        self.model: dict[int, tuple[str, float, int]] = {}
        self.aggs: dict[int, tuple[int, float, int]] = {}
        self.delta: dict[int, dict[int, tuple]] = {}  # v -> {k: (old, new)}
        self.next_key = N_ROWS
        self.checks: list[tuple[str, object, object]] = []  # (what, got, want)
        self.files_written: dict[int, int] = Counter()  # pass -> data files added
        self.bytes_added = 0
        self.rows_changed = 0
        self.kept_ratios: list[float] = []
        self.version = 0

    # ---- set-up --------------------------------------------------------------

    def prepare(self, spark: SparkSession) -> dict:
        import pyarrow as pa
        import pyarrow.parquet as pq

        from mr_spark.acid import SnapshotTable
        from mr_spark.sources import load_table
        from mr_spark.sources.snapshot_source import register_snapshot_view

        rows = keyed_rows(self.seed, N_ROWS)
        os.makedirs(self.dir, exist_ok=True)
        pq.write_table(
            pa.table({c: [r[i] for r in rows] for i, c in enumerate(("k", "grp", "x", "n"))},
                     schema=pa.schema([("k", pa.int64()), ("grp", pa.string()),
                                       ("x", pa.float64()), ("n", pa.int64())])),
            os.path.join(self.dir, "keyed.parquet"))
        self.table = SnapshotTable.create(
            spark, os.path.join(self.dir, "table"), load_table(spark, self.dir, "keyed"),
            key="k", n_buckets=N_BUCKETS)
        register_snapshot_view(spark, VIEW, self.table.path)
        self.model = {r[0]: r[1:] for r in rows}
        self.version = v = self.table.latest_version()
        self.aggs[v] = _agg(self.model)
        self.row_bytes = self._data_bytes() / N_ROWS
        return {
            "rows": N_ROWS,
            "parquet_bytes": os.path.getsize(os.path.join(self.dir, "keyed.parquet")),
            "buckets": N_BUCKETS,
            "ops_per_pass": len(PASS_OPS) + 1,
        }

    def scan_s(self, spark: SparkSession) -> float:
        from mr_spark.sources import load_table

        t0 = time.perf_counter()
        load_table(spark, self.dir, "keyed").write.format("noop").mode("overwrite").save()
        return time.perf_counter() - t0

    # ---- bookkeeping outside the op spans --------------------------------------

    def _data_files(self) -> dict[str, int]:
        d = os.path.join(self.table.path, "data")
        return {f: os.path.getsize(os.path.join(d, f)) for f in os.listdir(d)}

    def _data_bytes(self) -> int:
        return sum(self._data_files().values())

    def _draw_row(self) -> tuple[str, float, int]:
        r = self.rng
        return (r.choice(GROUPS), float(r.randint(0, 10_000)), r.randint(0, 100))

    def _range(self, width: int) -> tuple[int, int]:
        a = self.rng.randrange(0, self.next_key - width)
        return a, a + width - 1

    def _source_rows(self) -> list[tuple]:
        """MERGE source: existing keys to update plus fresh keys to insert."""
        keys = self.rng.sample(sorted(self.model), MERGE_MATCHED)
        keys += range(self.next_key, self.next_key + MERGE_NEW)
        self.next_key += MERGE_NEW
        return [(k, *self._draw_row()) for k in keys]

    def _commit(self, name: str, pass_idx: int, before_files: dict[str, int],
                changes: dict[int, tuple]) -> None:
        """Record a write: apply it to the model and note files and bytes.
        A write commits exactly one version, unless it changes nothing."""
        v = self.table.latest_version()
        if v != self.version + 1 and (changes or v != self.version):
            self.checks.append((f"{name} commit", f"v{v}", f"v{self.version + 1}"))
        if v == self.version:
            return
        self.version = v
        for k, (_, new) in changes.items():
            if new is None:
                self.model.pop(k, None)
            else:
                self.model[k] = new
        after = self._data_files()
        added = [f for f in after if f not in before_files]
        self.files_written[pass_idx] += len(added)
        self.bytes_added += sum(after[f] for f in added)
        self.rows_changed += len(changes)
        self.delta[v] = changes
        self.aggs[v] = _agg(self.model)

    # ---- ops -------------------------------------------------------------------

    def _write(self, name: str):
        """Draw the op's parameters and its model changes, then return the
        timed call. Parameters come from the seeded stream in run order."""
        t, m = self.table, self.model
        if name in ("update", "sql_update"):
            a, b = self._range(UPDATE_WIDTH)
            if name == "update":
                c = self.rng.randint(1, 9)
                ch = {k: (m[k], (m[k][0], m[k][1] + c, m[k][2])) for k in range(a, b + 1) if k in m}
                call = lambda spark: t.update(set={"x": f"x + {c}"}, where=("k", a, b))  # noqa: E731
            else:
                ch = {k: (m[k], (m[k][0], m[k][1], m[k][2] + 1)) for k in range(a, b + 1) if k in m}
                call = lambda spark: execute_dml(  # noqa: E731
                    spark, f"UPDATE {VIEW} SET n = n + 1 WHERE k BETWEEN {a} AND {b}")
        elif name in ("delete", "sql_delete"):
            a, b = self._range(DELETE_WIDTH)
            ch = {k: (m[k], None) for k in range(a, b + 1) if k in m}
            if name == "delete":
                call = lambda spark: t.delete(where=("k", a, b))  # noqa: E731
            else:
                call = lambda spark: execute_dml(  # noqa: E731
                    spark, f"DELETE FROM {VIEW} WHERE k BETWEEN {a} AND {b}")
        elif name in ("merge_upsert", "sql_merge"):
            rows = self._source_rows()
            ch = {r[0]: (m.get(r[0]), r[1:]) for r in rows}
            src = None

            def call(spark):
                if name == "merge_upsert":
                    return t.merge_upsert(src)
                return execute_dml(
                    spark, f"MERGE INTO {VIEW} AS t USING {SRC_VIEW} AS s ON t.k = s.k "
                    "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *")

            def prep(spark):
                nonlocal src
                src = spark.createDataFrame(rows, SCHEMA)
                if name == "sql_merge":
                    src.createOrReplaceTempView(SRC_VIEW)
            return prep, call, ch
        elif name == "append":
            rows = [(k, *self._draw_row()) for k in range(self.next_key, self.next_key + APPEND_ROWS)]
            self.next_key += APPEND_ROWS
            ch = {r[0]: (None, r[1:]) for r in rows}
            src = None

            def prep(spark):
                nonlocal src
                src = spark.createDataFrame(rows, SCHEMA)
            return prep, (lambda spark: t.append(src)), ch
        elif name == "compact":
            return None, (lambda spark: t.compact()), {}
        else:
            raise ValueError(name)
        return None, call, ch

    def _write_op(self, name: str, pass_idx: int) -> Op:
        def run(spark: SparkSession) -> tuple[float, float]:
            prep, call, ch = self._write(name)
            if prep:
                prep(spark)
            before = self._data_files()
            t0 = time.perf_counter()
            call(spark)
            dt = time.perf_counter() - t0
            self._commit(name, pass_idx, before, ch)
            return dt, 0.0
        return Op(name, "write", run)

    def _read_op(self, name: str) -> Op:
        t = self.table

        def run(spark: SparkSession) -> tuple[float, float]:
            latest = t.latest_version()
            if name == "read":
                a, b = self._range(READ_WIDTH)
                t0 = time.perf_counter()
                df = t.read(where=("k", a, b))
                t1 = time.perf_counter()
                got = sorted(tuple(r) for r in df.collect())
                t2 = time.perf_counter()
                want = sorted((k, *self.model[k]) for k in range(a, b + 1) if k in self.model)
                self.kept_ratios.append(
                    len(t.data_paths(latest, ("k", a, b))) / len(t.data_paths(latest)))
            elif name == "read_version":
                v = self.rng.randint(max(1, latest - TRAVEL_BACK), max(1, latest - 1))
                t0 = time.perf_counter()
                df = t.read(version=v).agg(F.count("*"), F.sum("x"), F.sum("n"))
                t1 = time.perf_counter()
                got = tuple(df.collect()[0])
                t2 = time.perf_counter()
                want = self.aggs[v]
            else:
                v = max(1, latest - CHANGES_BACK)
                t0 = time.perf_counter()
                df = t.changes(v, latest)
                t1 = time.perf_counter()
                got = sorted(tuple(r) for r in df.select("_change_type", "k", "grp", "x", "n").collect())
                t2 = time.perf_counter()
                want = self._expected_changes(v, latest)
            self.checks.append((f"{name}@v{latest}", got, want))
            return t1 - t0, t2 - t1
        return Op(name, "read", run)

    def _expected_changes(self, v_from: int, v_to: int) -> list[tuple]:
        net: dict[int, list] = {}
        for v in range(v_from + 1, v_to + 1):
            for k, (old, new) in self.delta.get(v, {}).items():
                net.setdefault(k, [old, new])[1] = new
        out = []
        for k, (old, new) in net.items():
            if old == new:
                continue
            if old is None:
                out.append(("insert", k, *new))
            elif new is None:
                out.append(("delete", k, *old))
            else:
                out += [("update_preimage", k, *old), ("update_postimage", k, *new)]
        return sorted(out)

    def pass_ops(self, pass_idx: int) -> list[Op]:
        names = list(PASS_OPS)
        self.rng.shuffle(names)
        names.insert(names.index("append") + 1, "compact")
        return [self._write_op(n, pass_idx) if n in WRITE_OPS else self._read_op(n)
                for n in names]

    # ---- correctness and layer counts -----------------------------------------

    def check(self, spark: SparkSession) -> list[str]:
        failures = [f"{what}: got {_short(got)} want {_short(want)}"
                    for what, got, want in self.checks if got != want]
        final = sorted(tuple(r) for r in self.table.read().collect())
        want = sorted((k, *r) for k, r in self.model.items())
        if final != want:
            failures.append(f"final table: {len(final)} rows, replay has {len(want)}")
        return failures

    def acid_metrics(self, pass_idx: int) -> dict:
        """Table-state counts at the end of the run; files written are
        those of pass ``pass_idx``, whose op stream the seed alone fixes."""
        t = self.table
        latest = t.latest_version()
        ckpt = os.path.join(t.path, "checkpoints")
        return {
            "acid.files_written": self.files_written[pass_idx],
            "acid.write_amp": self.bytes_added / max(1.0, self.rows_changed * self.row_bytes),
            "acid.versions": latest,
            "acid.checkpoints": len(os.listdir(ckpt)) if os.path.isdir(ckpt) else 0,
            "acid.live_files": len(t.data_paths(latest)),
            "acid.read_kept_ratio": sum(self.kept_ratios) / max(1, len(self.kept_ratios)),
        }


def execute_dml(spark, stmt: str):
    from mr_spark.sql_dml import execute_dml as run

    return run(spark, stmt)


def _short(x) -> str:
    s = repr(x)
    return s if len(s) <= 160 else s[:157] + "..."
