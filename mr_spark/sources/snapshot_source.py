"""Batch Python DataSource for SnapshotTable — ``spark.read.format(
"snapshot").option("path", tbl).load()`` with MANIFEST PRUNING through
an explicit ``where`` option.

This closes the acid.py module docstring's remaining driver-cost note:
``read()`` materializes the pruned path list on the driver because
``spark.read.parquet`` takes paths — this source is the Delta-FileIndex
shape instead: predicates prune files from the manifest alone DURING
PLANNING (partition-value equality on value-partitioned tables, footer
[min, max] ranges for range predicates, per-file bloom probes for point
predicates on indexed columns — ``SnapshotTable._plan_files``, the file
plan ``data_paths`` uses), and only the surviving files become input
partitions. Executors read them under the MANIFEST schema (evolved
columns NULL-fill for old files), apply deletion vectors by row
position, and re-apply the predicates EXACTLY row-level (vectorized
pyarrow compute) — so ``option("where", ...)`` has plain SQL WHERE
semantics, not just file granularity.

WHY AN OPTION AND NOT ``pushFilters`` (measured on this image's Spark
4.1.2, decompiled from spark-sql jars): the engine keeps ONE mutable
``readInfo`` slot per relation (PythonDataSourceV2.readInfo, set by
UserDefinedPythonDataSourceFilterPushdownRunner via setReadInfo, read
back by PythonBatch.planInputPartitions via getOrCreateReadInfo). A
filtered scan's pushdown OVERWRITES that slot, and a later UNFILTERED
scan of the same ``load()`` never re-runs pushdown (pushdownFiltersInPython
short-circuits to None when no filter is protocol-supported), so it
silently reuses the filtered plan — ``df.where(...).count()`` followed
by ``df.count()`` returned the FILTERED count. Any filter-dependence in
the planned partitions or read function is therefore unsafe on this
engine version. Relation-level options ARE safe: they are part of the
relation's identity, so every scan of the relation plans the same
partitions. tests/test_sources.py pins both the hazard (an engine
canary that fails when a future Spark fixes the cache — the signal to
restore pushFilters pruning) and this source's mixed-query correctness.

``where`` grammar (mr_spark/predicates.py, shared with the table's
read/DML planners): comparators ``= == <> != > >= < <=``, ``BETWEEN a
AND b``, ``IN (...)``, ``NOT IN (...)``, ``IS [NOT] NULL``, and
parenthesised OR groups, joined by AND; literals are single-quoted
strings or bare int/float. Example: ``option("where", "day =
'2024-01-03' AND (k >= 10 OR k IN (1, 2))")``.

Scale: the pruning decision is O(live files) driver-side metadata work
with ZERO file opens — at 10^5 files a point lookup plans in manifest
memory; the alternative (listing every file into a parquet scan and
letting row groups filter) opens every footer.
"""

from __future__ import annotations

import json
import os
from collections.abc import Iterator, Sequence

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamReader,
    InputPartition,
)
from pyspark.sql.types import StructType


def _local_path(path: str | None) -> str | None:
    """Normalize the ``path`` option to a local filesystem path. The
    DataFrame API passes options through verbatim, but SQL DDL over
    Python data sources (``CREATE TABLE ... USING snapshot OPTIONS
    (path ...)``) qualifies the path into a URI (``file:/dir/...``)
    before the source sees it — both forms must resolve to the same
    table directory."""
    if not path:
        return path
    from urllib.parse import unquote, urlparse

    p = urlparse(path)
    return unquote(p.path) if p.scheme == "file" else path


def _table(path: str):
    """Spark-less SnapshotTable handle (manifest I/O only) — same trick
    as sources/cdf_stream.py."""
    from ..acid import SnapshotTable

    return SnapshotTable(None, _local_path(path))


def _hide_row_ids(m: dict, options) -> bool:
    """Row-tracked tables hide the reserved ``_row_id`` column unless
    ``option("with_row_ids", "true")`` — matching SnapshotTable.read's
    default."""
    return "_row_id" in m.get("identity", {}) and str(
        options.get("with_row_ids", "false")
    ).lower() != "true"


def _effective_schema(m: dict, options) -> StructType:
    schema = StructType.fromJson(json.loads(m["schema"]))
    if _hide_row_ids(m, options):
        schema = StructType(
            [f for f in schema.fields if f.name != "_row_id"]
        )
    return schema


class SnapshotDataSource(DataSource):
    """``spark.read.format("snapshot")`` — options:

    * ``path``: the snapshot table directory (required)
    * ``version``: version to read (default: latest) — time travel
    * ``timestamp_as_of``: unix seconds — Delta's ``timestampAsOf``:
      read the latest version committed at or before the instant
      (mutually exclusive with ``version``)
    * ``where``: pruning predicate with exact SQL WHERE semantics —
      comparisons / BETWEEN / IN / IS [NOT] NULL / OR groups joined by
      AND (module docstring has the grammar). Prunes files from the
      manifest at planning (partition values, footer ranges, bloom
      probes) and re-applies row-level on executors. See the module
      docstring for why this is an option and not pushFilters.
    """

    @classmethod
    def name(cls) -> str:
        return "snapshot"

    def _pinned_version(self) -> int:
        """Resolve the version ONCE per DataSource instance: schema()
        and reader()/partitions() resolving "latest" independently would
        let a commit landing in between mix one version's declared
        schema with the next version's data — the same hazard
        acid.read() documents ("resolve the version once")."""
        v = self.options.get("version")
        ts = self.options.get("timestamp_as_of")
        if v is not None and ts is not None:
            raise ValueError(
                "pass either option('version') or "
                "option('timestamp_as_of'), not both"
            )
        if v is not None:
            return int(v)
        if not hasattr(self, "_pin"):
            path = self.options.get("path")
            if not path:
                raise ValueError(
                    "snapshot source needs option('path', <table dir>)"
                )
            self._pin = (
                _table(path).version_at(float(ts))
                if ts is not None
                else _table(path).latest_version()
            )
        return self._pin

    def schema(self) -> StructType:
        t = _table(self.options["path"])
        m = t._manifest(self._pinned_version())
        return _effective_schema(m, self.options)

    def reader(self, schema: StructType) -> "SnapshotReader":
        return SnapshotReader(self.options, version=self._pinned_version())

    def writer(self, schema: StructType, overwrite: bool):
        from .snapshot_sink import SnapshotWriter

        return SnapshotWriter(self.options, schema, overwrite)

    def streamWriter(self, schema: StructType, overwrite: bool):
        if overwrite:
            raise NotImplementedError(
                "snapshot stream sink supports outputMode('append') only"
            )
        from .snapshot_sink import SnapshotStreamWriter

        return SnapshotStreamWriter(self.options, schema)

    def streamReader(self, schema: StructType) -> "SnapshotStreamReader":
        return SnapshotStreamReader(self.options, schema)


# ---- input-split packing (guide §6: split sizing / small-file open cost) ---
#
# One Python task per FILE was the dominant cost of every snapshot scan on
# small tables: each Python-DataSource task pays a fixed worker round-trip
# (~0.1 s measured on this image) regardless of bytes, so a 32-file fixture
# scan spent ~4.5 s on overhead for ~5 MB of data. Files now PACK into
# splits the way Spark's own FilePartition packing works: each file costs
# max(its size, an open-cost floor), and files accumulate into one split
# until the target size is reached. At production file sizes (128 MB-1 GB)
# the byte target keeps ~1 file per split — parallelism at scale is
# unchanged; only the tiny-file regime collapses its per-task overhead.
# Both knobs are env-tunable so a cluster deployment can align them with
# spark.sql.files.maxPartitionBytes / openCostInBytes.
_PACK_TARGET = int(os.environ.get("SPARK_GRAFT_SCAN_PACK_BYTES", str(128 << 20)))
_PACK_OPEN_COST = int(os.environ.get("SPARK_GRAFT_SCAN_OPEN_COST", str(8 << 20)))


class _FileSetPartition(InputPartition):
    """A packed scan split: several files of ONE manifest read together
    by a single executor task. ``files`` is a list of per-file specs
    ``(file_path, dv_paths, fills)``; schema/colmap/preds are shared
    (they are manifest-level, identical for every file of a scan)."""

    def __init__(
        self,
        files: list[tuple],
        schema_json: str,
        colmap: dict | None = None,
        preds: list | None = None,
    ) -> None:
        self.files = files  # [] = empty-table sentinel
        self.schema_json = schema_json
        self.colmap = colmap or {}
        self.preds = preds or []

    @property
    def file_paths(self) -> list[str]:
        return [f[0] for f in self.files]


def _pack_file_specs(
    specs: list[tuple], schema_json: str, colmap: dict, preds: list | None
) -> list[_FileSetPartition]:
    """Greedy size-based packing of per-file specs into scan splits
    (driver-side ``os.path.getsize`` — pure metadata, like the manifest
    reads around it). Order-preserving and deterministic."""
    parts: list[_FileSetPartition] = []
    cur: list[tuple] = []
    cur_cost = 0
    for spec in specs:
        try:
            cost = max(os.path.getsize(spec[0]), _PACK_OPEN_COST)
        except OSError:
            cost = _PACK_OPEN_COST
        if cur and cur_cost + cost > _PACK_TARGET:
            parts.append(_FileSetPartition(cur, schema_json, colmap, preds))
            cur, cur_cost = [], 0
        cur.append(spec)
        cur_cost += cost
    if cur:
        parts.append(_FileSetPartition(cur, schema_json, colmap, preds))
    return parts


def _file_specs(t, m: dict, rels: list[str]) -> list[tuple]:
    """Per-file split specs ``(file_path, dv_paths, fills)`` for the
    manifest entries ``rels`` of ``m``: each file's deletion vectors and
    the initial column defaults (add_column) its rows read, because the
    file predates the alter — one rule for the batch reader and the
    table-as-stream snapshot batch."""
    dvs = m.get("dvs", {})
    init_pre = {
        c: (t._pre_default_basenames(d), d["initial"])
        for c, d in m.get("defaults", {}).items()
        if d.get("initial") is not None
    }
    return [
        (
            t._entry_full(rel),
            [t._entry_full(d) for d in dvs.get(rel, [])],
            {
                c: v
                for c, (pre, v) in init_pre.items()
                if os.path.basename(rel) in pre
            },
        )
        for rel in rels
    ]


def parse_where(expr: str) -> list[list[tuple]]:
    """``option("where", ...)`` -> normalized conjuncts (the shared
    grammar in mr_spark/predicates.py): the six comparators, BETWEEN,
    IN (...), NOT IN (...), IS [NOT] NULL, and parenthesised OR groups,
    joined by AND. Strings single-quoted ('' escapes); bare literals
    parse as int then float. Anything else is a loud error — this is a
    data-skipping predicate, not a SQL dialect. Superset of the
    original ``<col> <op> <literal> [AND ...]`` option grammar."""
    from ..predicates import parse_sql_where

    return parse_sql_where(expr)


class SnapshotReader(DataSourceReader):
    def __init__(self, options, version: int | None = None) -> None:
        self.path = _local_path(options.get("path"))
        if not self.path:
            raise ValueError("snapshot source needs option('path', <table dir>)")
        if version is not None:
            self.version = version  # pinned by the DataSource
        else:
            v = options.get("version")
            self.version = int(v) if v is not None else None
        w = options.get("where")
        self._preds: list[list[tuple]] = parse_where(w) if w else []
        self._options = options

    # ---- planning (driver): manifest-only pruning ---------------------

    def partitions(self) -> Sequence[InputPartition]:
        t = _table(self.path)
        m = t._manifest(
            self.version if self.version is not None else t.latest_version()
        )
        # row tracking: executors project the EFFECTIVE schema, so the
        # hidden _row_id column is never even decoded; a predicate on
        # it while hidden is a contradiction, refused loudly
        eff_json = _effective_schema(m, self._options).json()
        if _hide_row_ids(m, self._options) and any(
            a[1] == "_row_id" for atoms in self._preds for a in atoms
        ):
            raise ValueError(
                "where references the hidden '_row_id' column — pass "
                "option('with_row_ids', 'true') to expose row ids"
            )
        # the native read's own file plan (partition pruning per bucket
        # spec, then the per-file verdict ladder), so both read the same
        # files. Advisory like everything here: the executor re-applies
        # every predicate exactly row-level.
        rels = [rel for _, rel, _ in t._plan_files(m, self._preds)]
        cmap = m.get("colmap", {})
        specs = _file_specs(t, m, rels)
        parts = _pack_file_specs(specs, eff_json, cmap, self._preds)
        # an empty table still needs >= 1 partition
        return parts or [_FileSetPartition([], eff_json, cmap)]

    # ---- execution (executor): pyarrow scan + DV anti-filter ----------

    def read(self, partition: _FileSetPartition) -> Iterator:
        yield from _read_fileset_partition(partition)


def _read_fileset_partition(partition: _FileSetPartition) -> Iterator:
    """ONE executor-side scan split (a packed set of files of one
    manifest) under full snapshot semantics (physical names via colmap,
    NULL-fill for pre-evolution files, positional DV filter, exact
    row-level ``where`` predicates) — shared by the batch reader and the
    table-as-stream reader so the semantics cannot drift apart.

    Yields ``pyarrow.RecordBatch`` (the Python DataSource API's Arrow
    fast path) CAST to exactly the arrow schema Spark derives from the
    declared schema — scanned bytes go parquet→arrow→JVM without ever
    materializing Python row objects; the cast guarantees field order,
    names and types (timestamps land as us/UTC) match what the engine
    planned for, independent of the file's physical types."""
    if not partition.files:
        return
    from pyspark.sql.pandas.types import to_arrow_schema

    from ._scan import read_file_table

    schema = StructType.fromJson(json.loads(partition.schema_json))
    logical = [f.name for f in schema.fields]
    arrow_schema = to_arrow_schema(schema)
    for file_path, dv_paths, fills in partition.files:
        tbl = read_file_table(
            file_path,
            logical,
            partition.colmap,
            dv_paths,
            preds=partition.preds or [],
            fills=fills or {},
        )
        yield from tbl.cast(arrow_schema).to_batches()


class SnapshotStreamReader(DataSourceStreamReader):
    """``spark.readStream.format("snapshot")`` — Delta's TABLE-AS-STREAM
    read. Two modes, exactly Delta's:

    * DEFAULT (no ``start_version``): the first batch is the TABLE'S
      CURRENT SNAPSHOT (the latest version's full file list, deletion
      vectors applied) — Delta's initial-snapshot semantics; later
      batches emit each subsequent commit's ADDED files. A table whose
      HISTORY contains rewrites streams fine: history is never replayed.
    * ``start_version=N``: per-commit REPLAY from version N inclusive
      (Delta's ``startingVersion``) — each batch emits the files the
      commit added. A NON-APPEND commit in the replayed range (CoW
      rewrite, DV attach) FAILS the stream by default ("Detected a data
      update… set skipChangeCommits"); ``skip_change_commits=true``
      skips such commits ENTIRELY, adds included (Delta's rule: a
      rewrite's files mostly re-carry old rows — emitting them would
      duplicate). Replayed rows reflect each commit AS WRITTEN, not the
      current state — startingVersion semantics, use the CDF source for
      row-level changes.

    A schema evolution AFTER stream start fails the run; a restart
    re-pins the schema and (in default mode) recovers via a fresh
    initial snapshot — Delta's behavior.

    Planning is pure manifest metadata on the driver (no data read);
    one input partition per file. ``end_version`` bounds a backfill."""

    def __init__(self, options, schema: StructType) -> None:
        self.path = _local_path(options.get("path"))
        if not self.path:
            raise ValueError("snapshot source needs option('path', <table dir>)")
        sv = options.get("start_version")
        self.start_version = int(sv) if sv is not None else None
        end = options.get("end_version")
        self.end = int(end) if end is not None else None
        self.skip_change_commits = (
            str(options.get("skip_change_commits", "false")).lower() == "true"
        )
        self._declared_schema_json = schema.json()
        self._options = options

    # ---- offset protocol ---------------------------------------------

    def initialOffset(self) -> dict:
        if self.start_version is not None:
            # replay mode: batches cover [start_version .. latest]
            return {"version": self.start_version - 1}
        # snapshot mode: version 0 + the marker makes the first batch
        # the CURRENT snapshot instead of a history replay
        return {"version": 0, "snapshot": True}

    def latestOffset(self) -> dict:
        latest = _table(self.path).latest_version()
        if self.end is not None:
            latest = min(latest, self.end)
        return {"version": latest}

    def commit(self, end: dict) -> None:
        pass  # versions are immutable; nothing to acknowledge

    def stop(self) -> None:
        pass

    # ---- planning (driver): manifest metadata, no data read -----------

    def _snapshot_parts(self, m: dict) -> list[InputPartition]:
        # the per-commit REPLAY path never needs DVs or fills: an
        # append-only commit's new files carry none, and pre-alter
        # commits carry a pre-alter schema and fail the pinned-schema check
        rels = [rel for rels in m["files"].values() for rel in rels]
        return _pack_file_specs(
            _file_specs(_table(self.path), m, rels),
            _effective_schema(m, self._options).json(),
            m.get("colmap", {}),
            None,
        )

    def partitions(self, start: dict, end: dict) -> Sequence[InputPartition]:
        t = _table(self.path)
        parts: list[InputPartition] = []
        declared = StructType.fromJson(json.loads(self._declared_schema_json))
        from_v = start["version"] + 1
        if start.get("snapshot"):
            # initial batch = the CURRENT state at end.version — DVs
            # applied, no history replay (Delta's initial snapshot)
            parts += self._snapshot_parts(t._manifest(end["version"]))
            from_v = end["version"] + 1  # nothing incremental this batch
        for v in range(from_v, end["version"] + 1):
            mt = t._manifest(v)
            # compare EFFECTIVE schemas (row tracking hides _row_id on
            # both sides unless the option exposes it)
            if _effective_schema(mt, self._options) != declared:
                raise RuntimeError(
                    f"table schema changed at version {v} — the stream "
                    "pinned its schema at start; restart the stream "
                    "(default mode recovers via a fresh initial snapshot)"
                )
            mf = t._manifest(v - 1) if v > 1 else {"files": {}, "dvs": {}}
            added: list[str] = []
            changed = False
            for b in set(mf["files"]) | set(mt["files"]):
                old = mf["files"].get(b, [])
                new = mt["files"].get(b, [])
                oset, nset = set(old), set(new)
                if any(r not in nset for r in old):
                    changed = True  # a file was rewritten/removed
                added += [r for r in new if r not in oset]
            # DV changes delete rows without touching file lists
            if mf.get("dvs", {}) != mt.get("dvs", {}):
                changed = True
            if changed:
                if self.skip_change_commits:
                    continue  # skip the WHOLE commit, adds included
                raise RuntimeError(
                    f"version {v} is not append-only (copy-on-write "
                    "rewrite or deletion vectors) — an insert-only "
                    "stream cannot represent it; set "
                    "option('skip_change_commits', 'true') to skip such "
                    "commits, or read format('snapshot_cdf') for "
                    "row-level changes"
                )
            # pack per COMMIT (schema/colmap are per-manifest; a split
            # never mixes files of two commits)
            parts += _pack_file_specs(
                [
                    # append-only commit: no DVs on its new files
                    (os.path.join(self.path, rel), [], {})
                    for rel in added
                ],
                _effective_schema(mt, self._options).json(),
                mt.get("colmap", {}),
                None,
            )
        return parts or [
            _FileSetPartition([], self._declared_schema_json, {})
        ]

    # ---- execution (executor): same path as the batch reader ----------

    def read(self, partition: _FileSetPartition) -> Iterator:
        yield from _read_fileset_partition(partition)


def register(spark) -> None:
    """Idempotent registration of the source with a session."""
    spark.dataSource.register(SnapshotDataSource)


def register_snapshot_view(spark, name: str, path: str, **options) -> None:
    """The SQL surface for snapshot tables on this image: bind a TEMP
    VIEW over the batch source, after which a pure-SQL session can
    query, join, and time-travel (register a second view with
    ``version=N`` / ``timestamp_as_of=...``) without touching the
    DataFrame API again.

    ``CREATE TABLE ... USING snapshot OPTIONS (path ...)`` — Spark 4's
    documented SQL DDL over Python data sources — is BLOCKED by a
    measured engine gap in this image's Spark 4.1.2 (VERDICT r6 #4):
    the DDL itself succeeds (the create-time instance receives the
    options, path qualified to a ``file:`` URI — handled by
    _local_path), but every later SELECT constructs a FRESH
    PythonDataSourceV2 whose ``getTable(schema, partitioning,
    properties)`` DISCARDS the properties map — bytecode shows
    ``PythonTable.<init>`` taking only (provider, shortName, schema) —
    so the scan-time source sees EMPTY options and cannot locate the
    table (measured: DDL-time options {'path': 'file:/...', ...};
    SELECT-time options {}). ``LOCATION`` and direct
    ``FROM snapshot.`/path``` fail the same way / are refused outright.
    The gap is pinned by tests/test_sources.py::
    test_spark_catalog_table_options_engine_canary — when a fixed Spark
    arrives the canary fails, signaling the DDL surface can replace
    this helper. All options (version, timestamp_as_of, where, ...)
    pass through.

    The binding is also recorded for the SQL-text DML dispatcher
    (mr_spark/sql_dml.py): an UNPINNED view (no version /
    timestamp_as_of / where) is writable through ``execute_dml`` —
    ``DELETE FROM <name> WHERE ...`` etc.; pinned views are read-only
    history and the dispatcher refuses them by consulting this record."""
    register(spark)
    r = spark.read.format("snapshot").option("path", path)
    for k, v in options.items():
        r = r.option(k, str(v))
    r.load().createOrReplaceTempView(name)
    _VIEW_BINDINGS[name.lower()] = {
        "path": path,
        "pinned": bool(options),
    }


# view name (lowercased) -> {"path", "pinned"} — the SQL-text DML
# dispatcher's name resolution (see register_snapshot_view)
_VIEW_BINDINGS: dict[str, dict] = {}
