"""Source/sink coverage: whole-file text scan (the reference's only
source, E1), CSV/JSON round-trips with explicit schemas, partitioned
parquet with partition pruning, and the Tier A ``"k v"`` text sink (E8/E9)
checked against the sequential oracle."""

from __future__ import annotations

import os

from pyspark.sql import functions as F
from pyspark.sql import types as T

from mr_spark import plans
from mr_spark.engine import get_app, run_mapreduce, run_sequential, save_text_output
from mr_spark.engine.sequential import to_text_lines
from mr_spark.sources import (
    load_table,
    read_csv,
    read_json,
    whole_text_files,
    write_partitioned,
)

from conftest import SF_DIR


def test_whole_text_files(spark, tmp_path):
    for name, body in [("a.txt", "hello world"), ("b.txt", "spark graft")]:
        (tmp_path / name).write_text(body)
    df = whole_text_files(spark, str(tmp_path) + "/*.txt")
    rows = {os.path.basename(r["path"]): r["contents"] for r in df.collect()}
    assert rows == {"a.txt": "hello world", "b.txt": "spark graft"}


def test_csv_round_trip(spark, tmp_path):
    orig = load_table(spark, SF_DIR, "nation")
    out = str(tmp_path / "nation_csv")
    orig.write.mode("overwrite").option("header", "true").csv(out)
    schema = T.StructType(
        [
            T.StructField("n_nationkey", T.IntegerType()),
            T.StructField("n_name", T.StringType()),
            T.StructField("n_regionkey", T.IntegerType()),
        ]
    )
    back = read_csv(spark, out, schema)
    assert sorted(back.collect()) == sorted(orig.collect())


def test_json_round_trip(spark, tmp_path):
    orig = load_table(spark, SF_DIR, "region")
    out = str(tmp_path / "region_json")
    orig.write.mode("overwrite").json(out)
    schema = T.StructType(
        [
            T.StructField("r_regionkey", T.IntegerType()),
            T.StructField("r_name", T.StringType()),
        ]
    )
    back = read_json(spark, out, schema)
    assert sorted(back.collect()) == sorted(orig.collect())


def test_partitioned_write_prunes(spark, tmp_path):
    out = str(tmp_path / "orders_part")
    write_partitioned(
        load_table(spark, SF_DIR, "orders"), out, "o_orderstatus"
    )
    df = spark.read.parquet(out).where(F.col("o_orderstatus") == "F")
    plan = plans.formatted(df)
    assert "PartitionFilters" in plan and "o_orderstatus" in plan.split("PartitionFilters")[1].split("]")[0]
    golden = (
        load_table(spark, SF_DIR, "orders").where(F.col("o_orderstatus") == "F").count()
    )
    assert df.count() == golden


def test_text_sink_matches_sequential(spark, tmp_path):
    corpus = [("doc_a", "x y x"), ("doc_b", "y z")]
    app = get_app("wc")
    out = str(tmp_path / "mr_out")
    lines = save_text_output(run_mapreduce(spark, corpus, app, n_reduce=4), out)
    assert lines == to_text_lines(run_sequential(corpus, app))
    # n_reduce output partitions on disk, mirroring mr-out-{0..R-1}
    parts = [f for f in os.listdir(out) if f.startswith("part-")]
    assert len(parts) == 4


def test_run_files_end_to_end(spark, tmp_path):
    """The reference's whole CLI flow: files on disk → engine → merged
    sorted "k v" lines, against the sequential oracle on the same files."""
    from mr_spark.engine.mapreduce import run_files

    inputs = tmp_path / "inputs"
    inputs.mkdir()
    (inputs / "pg-1.txt").write_text("It was the best of times")
    (inputs / "pg-2.txt").write_text("it was the worst of times")
    app = get_app("wc")
    got = run_files(spark, str(inputs) + "/*.txt", app, str(tmp_path / "out"), n_reduce=3)
    corpus = [
        (str(inputs / "pg-1.txt"), "It was the best of times"),
        (str(inputs / "pg-2.txt"), "it was the worst of times"),
    ]
    assert got == to_text_lines(run_sequential(corpus, app))
    assert "times 2" in got


def test_orc_round_trip(spark, tmp_path):
    orig = load_table(spark, SF_DIR, "supplier")
    out = str(tmp_path / "supplier_orc")
    orig.write.mode("overwrite").orc(out)
    back = spark.read.orc(out)
    assert sorted(back.collect()) == sorted(orig.collect())


def test_whole_text_datasource(spark, tmp_path):
    """Custom Python DataSource (Spark 4 V2 API): whole-file records with
    ONE partition per file — the reference's MapTask granularity
    (coordinator.rs:54-64) as a first-class Catalyst source."""
    from mr_spark.sources.text_datasource import register

    register(spark)
    for i in range(4):
        (tmp_path / f"f{i}.txt").write_text(f"doc {i} body\n" * (i + 1))
    df = spark.read.format("whole_text").load(str(tmp_path) + "/*.txt")
    assert df.rdd.getNumPartitions() == 4  # one per file
    rows = {os.path.basename(r["path"]): r for r in df.collect()}
    assert rows["f2.txt"]["contents"] == "doc 2 body\n" * 3
    assert rows["f2.txt"]["size"] == len("doc 2 body\n") * 3

    # agrees with the RDD-based source on (path, contents)
    rdd_rows = {
        os.path.basename(r["path"]): r["contents"]
        for r in whole_text_files(spark, str(tmp_path) + "/*.txt").collect()
    }
    assert rdd_rows == {k: r["contents"] for k, r in rows.items()}


def test_whole_text_datasource_option_pruning(spark, tmp_path):
    """size/path OPTIONS prune files at planning time (one partition per
    surviving file, pruned BEFORE reading), while a row-level filter on
    an unpredicated relation stays exact — and, the reason options exist
    at all, a filtered query never poisons a later unfiltered scan of
    the same relation (the Spark 4.1.2 readInfo-cache hazard that made
    pushFilters unsafe; see text_datasource.py)."""
    from mr_spark.sources.text_datasource import register

    register(spark)
    for i in range(4):
        (tmp_path / f"f{i}.txt").write_text("x" * (10 * (i + 1)))
    pruned = (
        spark.read.format("whole_text")
        .option("size_gt", 25)
        .load(str(tmp_path) + "/*.txt")
    )
    assert [os.path.basename(r["path"]) for r in sorted(pruned.collect())] == [
        "f2.txt",
        "f3.txt",
    ]
    assert pruned.rdd.getNumPartitions() == 2  # pruned BEFORE reading
    # plain relation: row filter exact, and an unfiltered scan AFTER a
    # filtered one still sees every file
    df = spark.read.format("whole_text").load(str(tmp_path) + "/*.txt")
    assert df.where(F.col("size") > 25).count() == 2
    assert df.count() == 4


def test_binary_file_ingest(spark, tmp_path):
    """spark.read.format('binaryFile') — the ingestion path for opaque
    image/audio/video payloads (multimodal.py operates on exactly this
    (path, length, content) shape once ingested): content bytes round-trip
    exactly and pathGlobFilter prunes non-matching extensions."""
    payloads = {f"img_{i}.bin": bytes([i] * (16 + i)) for i in range(4)}
    for name, data in payloads.items():
        (tmp_path / name).write_bytes(data)
    (tmp_path / "notes.txt").write_text("not a payload")

    df = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.bin")
        .load(str(tmp_path))
    )
    rows = {os.path.basename(r["path"]): r for r in df.collect()}
    assert set(rows) == set(payloads)
    for name, data in payloads.items():
        assert bytes(rows[name]["content"]) == data
        assert rows[name]["length"] == len(data)


# ---- batch snapshot DataSource (sources/snapshot_source.py) -------------


def _mk_snap(spark, tmp_path, rows, n_buckets=4, **kw):
    from mr_spark.acid import SnapshotTable

    df = spark.createDataFrame(rows, "k bigint, v string")
    return SnapshotTable.create(
        spark, str(tmp_path / "tbl"), df, key="k", n_buckets=n_buckets, **kw
    )


def test_snapshot_batch_source_reads_dvs_and_evolution(spark, tmp_path):
    """format('snapshot') must honor full table semantics: DV-filtered
    rows, manifest-schema NULL-fill for pre-evolution files, and the
    version option for time travel."""
    from pyspark.sql import functions as F

    from mr_spark.sources.snapshot_source import register

    t = _mk_snap(spark, tmp_path, [(i, f"v{i}") for i in range(20)])
    t.delete_keys(spark.createDataFrame([(7,)], "k bigint"), mode="dv")
    t.append(
        spark.createDataFrame([(100, "x", 9)], "k bigint, v string, extra bigint"),
        merge_schema=True,
    )
    register(spark)
    out = spark.read.format("snapshot").option("path", t.path).load()
    got = sorted((r["k"], r["v"], r["extra"]) for r in out.collect())
    exp = sorted(
        [(i, f"v{i}", None) for i in range(20) if i != 7] + [(100, "x", 9)]
    )
    assert got == exp
    v1 = (
        spark.read.format("snapshot")
        .option("path", t.path)
        .option("version", 1)
        .load()
    )
    assert v1.count() == 20  # pre-delete, pre-evolution
    assert "extra" not in v1.columns
    # equals the native reader at every version
    native = sorted(map(tuple, t.read().collect()))
    assert sorted(map(tuple, out.collect())) == native


def test_snapshot_source_packs_small_files_into_splits(spark, tmp_path, monkeypatch):
    """Split packing (guide §6): tiny files pack into one split (one
    Python task instead of one per file), every file still read exactly
    once, and the byte target bounds a split — a target below two file
    costs degenerates to one file per split (the production-file-size
    regime, where parallelism must be preserved)."""
    import mr_spark.sources.snapshot_source as ss

    t = _mk_snap(spark, tmp_path, [(i, f"v{i}") for i in range(40)])
    r = ss.SnapshotReader({"path": t.path})
    parts = r.partitions()
    n_files = sum(len(p.files) for p in parts)
    assert n_files >= 4  # the fixture really has several files
    assert len(parts) < n_files  # small files packed together
    # all files distinct, none dropped
    flat = [f for p in parts for f in p.file_paths]
    assert len(set(flat)) == len(flat) == n_files
    # a target below the per-file open-cost floor → one file per split
    monkeypatch.setattr(ss, "_PACK_TARGET", 1)
    parts1 = ss.SnapshotReader({"path": t.path}).partitions()
    assert len(parts1) == n_files
    assert all(len(p.files) == 1 for p in parts1)


def test_snapshot_source_read_yields_arrow_batches(spark, tmp_path):
    """The executor read path must yield pyarrow RecordBatches cast to
    exactly the declared schema (the Python DataSource Arrow fast path —
    scanned bytes never materialize as Python rows), and the batch
    contents must equal the tuple form the CDF diff still consumes."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    from mr_spark.sources._scan import read_file_rows
    from mr_spark.sources.snapshot_source import SnapshotReader

    t = _mk_snap(spark, tmp_path, [(i, f"v{i}") for i in range(20)])
    t.delete_keys(spark.createDataFrame([(7,)], "k bigint"), mode="dv")
    reader = SnapshotReader({"path": t.path})
    parts = [p for p in reader.partitions() if p.files]
    assert parts
    rows: list[tuple] = []
    for p in parts:
        batches = list(reader.read(p))
        assert all(isinstance(b, pa.RecordBatch) for b in batches)
        import json as _json

        from pyspark.sql.types import StructType

        declared = StructType.fromJson(_json.loads(p.schema_json))
        target = to_arrow_schema(declared)
        for b in batches:
            assert b.schema == target
        rows += [
            tuple(r)
            for b in batches
            for r in zip(*(c.to_pylist() for c in b.columns))
        ]
        # the tuple form (CDF diff input) agrees value-for-value
        assert sorted(rows[-sum(b.num_rows for b in batches):]) == sorted(
            row
            for file_path, dv_paths, fills in p.files
            for row in read_file_rows(
                file_path,
                [f.name for f in declared.fields],
                p.colmap,
                dv_paths,
                preds=p.preds,
                fills=fills,
            )
        )
    assert sorted(rows) == sorted(
        [(i, f"v{i}") for i in range(20) if i != 7]
    )


def test_snapshot_batch_source_where_option_prunes_partitions(spark, tmp_path):
    """option("where", ...) must plan fewer input partitions under a
    prunable predicate — manifest pruning through the standard reader
    API, no data_paths() involved — and return EXACTLY the matching rows
    (the predicate is re-applied row-level on executors)."""
    from mr_spark.sources.snapshot_source import register

    from mr_spark.sources.snapshot_source import SnapshotReader

    t = _mk_snap(spark, tmp_path, [(i, f"v{i}") for i in range(40)])
    register(spark)
    # fewer FILES survive planning under the predicate (splits pack
    # several files, so partition counts no longer measure pruning —
    # planned file counts do)
    n_all = sum(len(p.files) for p in SnapshotReader({"path": t.path}).partitions())
    n_pruned = sum(
        len(p.files)
        for p in SnapshotReader({"path": t.path, "where": "k = 3"}).partitions()
    )
    assert 0 < n_pruned < n_all
    pruned = (
        spark.read.format("snapshot")
        .option("path", t.path)
        .option("where", "k = 3")
        .load()
    )
    assert [(r["k"], r["v"]) for r in pruned.collect()] == [(3, "v3")]


def test_snapshot_batch_source_where_extended_grammar(spark, tmp_path):
    """The round-8 ``where`` option grammar end-to-end: IN-lists,
    parenthesised OR groups, <> and IS [NOT] NULL — exact SQL WHERE
    row-level results, and manifest pruning still engages for the
    prunable shapes (an all-outside IN plans the empty sentinel)."""
    from mr_spark.sources.snapshot_source import register

    rows = [(i, f"v{i}" if i % 5 else None) for i in range(40)]
    t = _mk_snap(spark, tmp_path, rows)
    register(spark)

    def q(w):
        return (
            spark.read.format("snapshot")
            .option("path", t.path)
            .option("where", w)
            .load()
        )

    assert sorted(r["k"] for r in q("k IN (3, 7, 999)").collect()) == [3, 7]
    assert sorted(r["k"] for r in q("(k BETWEEN 0 AND 1 OR k IN (39))").collect()) == [0, 1, 39]
    assert sorted(r["k"] for r in q("v IS NULL").collect()) == [0, 5, 10, 15, 20, 25, 30, 35]
    got_ne = sorted(r["k"] for r in q("v <> 'v3' AND v IS NOT NULL").collect())
    assert got_ne == [i for i in range(40) if i % 5 and i != 3]
    assert sorted(r["k"] for r in q("k NOT IN (0, 1) AND k <= 3").collect()) == [2, 3]
    # pruning: IN-list entirely outside every file's range plans the
    # empty sentinel (zero files)
    from mr_spark.sources.snapshot_source import SnapshotReader

    empty_parts = SnapshotReader(
        {"path": t.path, "where": "k IN (900, 901)"}
    ).partitions()
    assert sum(len(p.files) for p in empty_parts) == 0
    empty = q("k IN (900, 901)")
    assert empty.count() == 0
    import pytest

    with pytest.raises(Exception, match="parenthesise|parse"):
        q("k = 1 OR k = 2 AND k = 3").collect()


def test_snapshot_batch_source_mixed_queries_stay_correct(spark, tmp_path):
    """THE reason pruning rides an option, not pushFilters: on this
    Spark version a pushFilters-pruned plan is cached per relation and
    reused by later UNFILTERED scans of the same load() (silent row
    loss — see snapshot_source.py's module docstring and the engine
    canary below). This source must keep every mixed-order query on one
    relation exact."""
    from mr_spark.sources.snapshot_source import register

    t = _mk_snap(spark, tmp_path, [(i, f"v{i}") for i in range(40)])
    register(spark)
    base = spark.read.format("snapshot").option("path", t.path).load()
    # filtered FIRST, unfiltered second — the order that used to poison
    assert base.where(F.col("k") == 3).count() == 1
    assert base.count() == 40
    assert base.where(F.col("k") >= 35).count() == 5
    assert base.agg(F.count("*")).collect()[0][0] == 40


def test_snapshot_batch_source_prunes_value_partitions(spark, tmp_path):
    """A partition-equality conjunct in option("where") prunes whole
    PARTITIONS from the bucket map at planning: the reader-level check
    pins that only the matching partition's directory survives in the
    planned splits, and the real spark.read path returns exactly the
    partition's rows from fewer input partitions."""
    from mr_spark.acid import SnapshotTable
    from mr_spark.sources.snapshot_source import SnapshotReader, register

    df = spark.createDataFrame(
        [(i, f"d{i % 3}", f"v{i}") for i in range(30)],
        "k bigint, day string, v string",
    )
    t = SnapshotTable.create(
        spark, str(tmp_path / "ptbl"), df, key="k", n_buckets=2,
        partition_by="day",
    )
    # reader-level: planned files all live under the matching directory
    r = SnapshotReader({"path": t.path, "where": "day = 'd1'"})
    planned = [f for p in r.partitions() for f in p.file_paths]
    r_all = SnapshotReader({"path": t.path})
    n_all = sum(len(p.files) for p in r_all.partitions())
    assert planned and len(planned) < n_all
    assert all("day=d1" in p for p in planned)
    # end-to-end through spark.read: correct rows
    register(spark)
    pruned = (
        spark.read.format("snapshot")
        .option("path", t.path)
        .option("where", "day = 'd1'")
        .load()
    )
    assert sorted(r["k"] for r in pruned.collect()) == [
        i for i in range(30) if i % 3 == 1
    ]


def test_snapshot_batch_source_bloom_point_lookup(spark, tmp_path):
    """A point predicate on a bloom-indexed column prunes through the
    source where [min,max] ranges cannot: an IN-RANGE but ABSENT value
    survives every range check yet every file's bloom proves absence."""
    from mr_spark.sources.snapshot_source import SnapshotReader, register

    # v-values hash-scatter: every file's [min, max] spans nearly the
    # whole alphabet, so range stats keep everything
    rows = [(i, f"t{i % 13}") for i in range(60)]
    t = _mk_snap(spark, tmp_path, rows, n_buckets=2, bloom_cols=["v"])
    r = SnapshotReader({"path": t.path})
    n_all = sum(len(p.files) for p in r.partitions())
    assert n_all >= 2
    # "t5a" sorts between the stored "t5" and "t6": in-range for every
    # file, absent from all of them
    r2 = SnapshotReader({"path": t.path, "where": "v = 't5a'"})
    parts = r2.partitions()
    assert len(parts) == 1 and parts[0].files == []  # bloom pruned all
    # and the real read path returns empty, not an error
    register(spark)
    out = (
        spark.read.format("snapshot")
        .option("path", t.path)
        .option("where", "v = 't5a'")
        .load()
    )
    assert out.count() == 0


def test_snapshot_source_plans_the_native_file_set(spark, tmp_path):
    """format("snapshot") plans its splits from the same file plan as
    the native read and predicate DML: on a partitioned, spec-evolved,
    bloom-indexed table with a timestamp column and a deletion vector,
    the reader's split files equal data_paths(), which equal
    _classify_files' full ∪ straddle — and the source returns exactly
    the native read's rows."""
    import datetime as dt
    import functools

    from pyspark.sql import DataFrame

    from mr_spark.acid import SnapshotTable
    from mr_spark.predicates import parse_sql_where
    from mr_spark.sources.snapshot_source import SnapshotReader, register

    def rows(lo, hi):
        return spark.createDataFrame(
            [
                (
                    i,
                    f"d{i % 3}",
                    f"g{i % 2}",
                    dt.datetime(2024, 1, 1 + i % 5, i % 24),
                    None if i % 7 == 0 else f"v{i}",
                )
                for i in range(lo, hi)
            ],
            "k bigint, day string, grp string, ts timestamp, v string",
        )

    t = SnapshotTable.create(
        spark, str(tmp_path / "plan"), rows(0, 24), key="k", n_buckets=2,
        partition_by="day", bloom_cols=["v"],
    )
    t.set_partition_spec("grp")
    t.append(rows(24, 40))
    t.delete_keys(spark.createDataFrame([(5,), (30,)], "k bigint"), mode="dv")
    m = t._manifest(t.latest_version())
    assert m["dvs"] and len(m["partition_specs"]) == 2
    n_all = sum(len(rels) for rels in m["files"].values())
    register(spark)
    pruned, src, native_rows = 0, [], []
    for i, w in enumerate(
        (
            "day = 'd1' AND k BETWEEN 3 AND 33",
            "v IN ('v8', 'v31', 'v8a')",
            "(k < 4 OR grp = 'g1')",
            "v IS NULL",
            "ts >= '2024-01-04 12:00:00'",
        )
    ):
        preds = parse_sql_where(w)
        planned = {
            f
            for p in SnapshotReader({"path": t.path, "where": w}).partitions()
            for f in p.file_paths
        }
        native = set(t.data_paths(where=preds))
        full, straddle = t._classify_files(m, preds)
        classified = {
            t._entry_full(rel)
            for d in (full, straddle)
            for rels in d.values()
            for rel in rels
        }
        assert planned == native == classified, w
        pruned += len(native) < n_all
        # rows of every predicate, tagged by its index: one job per side
        src.append(
            spark.read.format("snapshot")
            .option("path", t.path)
            .option("where", w)
            .load()
            .select(F.lit(i).alias("w"), "*")
        )
        native_rows.append(t.read(where=preds).select(F.lit(i).alias("w"), "*"))
    got, exp = (
        sorted(map(tuple, functools.reduce(DataFrame.unionByName, dfs).collect()))
        for dfs in (src, native_rows)
    )
    assert got == exp and {r[0] for r in exp} == set(range(5))
    assert pruned >= 3  # the plans really prune, not keep everything


def test_spark_pushfilters_readinfo_cache_engine_canary(spark, tmp_path):
    """ENGINE CANARY, not a feature test: pins the Spark 4.1.2 behavior
    that forced manifest pruning onto option("where") instead of
    DataSourceReader.pushFilters. A minimal source whose pushFilters
    prunes partitions returns a WRONG unfiltered count when the
    unfiltered scan follows a filtered one on the same relation — the
    engine caches one planned read per relation
    (PythonDataSourceV2.readInfo, overwritten by the pushdown runner,
    blindly reused by PythonBatch.planInputPartitions) and never
    re-plans a scan that pushes no filter.

    WHEN THIS TEST FAILS the image's Spark has fixed the cache: restore
    pushFilters-based pruning in snapshot_source.py / text_datasource.py
    (automatic predicate capture beats an explicit option) and retire
    this canary."""
    from pyspark.sql.datasource import (
        DataSource,
        DataSourceReader,
        EqualTo,
        InputPartition,
    )

    class CanaryReader(DataSourceReader):
        def __init__(self):
            self.keep = None

        def pushFilters(self, filters):
            for f in filters:
                if isinstance(f, EqualTo) and f.attribute == ("part",):
                    self.keep = f.value
                yield f  # all unsupported: Spark re-filters row-level

        def partitions(self):
            return [
                InputPartition(i)
                for i in range(4)
                if self.keep is None or i == self.keep
            ]

        def read(self, partition):
            yield (partition.value,)

    class CanarySource(DataSource):
        @classmethod
        def name(cls):
            return "readinfo_canary"

        def schema(self):
            return "part int"

        def reader(self, schema):
            return CanaryReader()

    spark.dataSource.register(CanarySource)
    df = spark.read.format("readinfo_canary").load()
    assert df.where(F.col("part") == 2).count() == 1  # pushdown plans 1 part
    stale = df.count()  # same relation, no filter -> reuses filtered plan
    assert stale == 1, (
        f"unfiltered scan returned {stale} rows — Spark re-planned it, "
        "meaning the readInfo cache bug is FIXED in this image. "
        "pushFilters-based pruning is safe again: see this test's "
        "docstring for what to restore."
    )


def test_snapshot_batch_source_pins_version_across_concurrent_commit(spark, tmp_path):
    """schema() and the scan must describe the SAME version even when a
    commit lands between plan-time calls — the version is pinned once
    per DataSource instance."""
    from mr_spark.sources.snapshot_source import SnapshotDataSource

    t = _mk_snap(spark, tmp_path, [(1, "a"), (2, "b")])
    ds = SnapshotDataSource({"path": t.path})
    v_before = ds._pinned_version()
    # a writer commits a schema evolution AFTER the pin
    t.append(
        spark.createDataFrame([(3, "c", 7)], "k bigint, v string, extra bigint"),
        merge_schema=True,
    )
    assert ds._pinned_version() == v_before  # still the pinned version
    assert "extra" not in [f.name for f in ds.schema().fields]
    r = ds.reader(ds.schema())
    assert r.version == v_before
    # a fresh instance sees the new latest
    ds2 = SnapshotDataSource({"path": t.path})
    assert ds2._pinned_version() == v_before + 1


# ---- snapshot sink (sources/snapshot_sink.py) ---------------------------


def test_spark_hash_parity_murmur3(spark):
    """The sink's pure-Python Murmur3 must equal F.hash for every
    supported key type — a mismatch would scatter sink rows into wrong
    buckets and silently break every bucket-pruned MERGE after."""
    import random

    from pyspark.sql.types import IntegerType, LongType, StringType

    from mr_spark.sources.snapshot_sink import spark_hash

    rng = random.Random(7)
    longs = [0, 1, -1, 2**62, -(2**62), None] + [
        rng.randint(-(2**63), 2**63 - 1) for _ in range(100)
    ]
    df = spark.createDataFrame([(v,) for v in longs], "x bigint")
    for r in df.select("x", F.hash("x").alias("h")).collect():
        assert spark_hash(r["x"], LongType()) == r["h"], r["x"]
    ints = [0, -1, 2**31 - 1, -(2**31), None] + [
        rng.randint(-(2**31), 2**31 - 1) for _ in range(100)
    ]
    df = spark.createDataFrame([(v,) for v in ints], "i int")
    for r in df.select("i", F.hash("i").alias("h")).collect():
        assert spark_hash(r["i"], IntegerType()) == r["h"], r["i"]
    strs = ["", "a", "ab", "abc", "abcd", "ünïcødé ✓", None] + [
        "".join(rng.choice("abcxyz09 é¢") for _ in range(rng.randint(1, 30)))
        for _ in range(100)
    ]
    df = spark.createDataFrame([(v,) for v in strs], "s string")
    for r in df.select("s", F.hash("s").alias("h")).collect():
        assert spark_hash(r["s"], StringType()) == r["h"], repr(r["s"])


def test_spark_hash_np_matches_scalar():
    """The VECTORIZED murmur3 (the Arrow write path's bucketing) must
    equal the scalar port element-for-element — longs/ints fully
    vectorized incl. NULLs (seed) and sign edges; strings via the
    per-value fallback."""
    import random

    import pyarrow as pa
    from pyspark.sql.types import IntegerType, LongType, StringType

    from mr_spark.sources.snapshot_sink import spark_hash, spark_hash_np

    rng = random.Random(11)
    longs = [0, 1, -1, 2**63 - 1, -(2**63), None] + [
        rng.randint(-(2**63), 2**63 - 1) for _ in range(500)
    ]
    got = spark_hash_np(pa.array(longs, pa.int64()), LongType())
    assert [int(x) for x in got] == [
        spark_hash(v, LongType()) for v in longs
    ]
    ints = [0, -1, 2**31 - 1, -(2**31), None] + [
        rng.randint(-(2**31), 2**31 - 1) for _ in range(500)
    ]
    got = spark_hash_np(pa.array(ints, pa.int32()), IntegerType())
    assert [int(x) for x in got] == [
        spark_hash(v, IntegerType()) for v in ints
    ]
    strs = ["", "a", "ünïcødé ✓", None, "abcd", "x" * 40]
    got = spark_hash_np(pa.array(strs, pa.string()), StringType())
    assert [int(x) for x in got] == [
        spark_hash(v, StringType()) for v in strs
    ]


def test_canonical_pvals_match_scalar():
    """The vectorized canonical partition strings must equal the scalar
    form for every supported (type, transform) pair, including the
    refusals (NULL, '|'/'/')."""
    import datetime

    import pyarrow as pa
    import pytest as _pytest
    from pyspark.sql.types import DateType, LongType, StringType

    from mr_spark.sources.snapshot_sink import (
        canonical_partition_value,
        canonical_pvals,
    )

    longs = [0, -5, 123456789]
    assert canonical_pvals(pa.array(longs, pa.int64()), LongType()) == [
        canonical_partition_value(v, LongType()) for v in longs
    ]
    strs = ["a", "hello world", "éé"]
    for tr in (("identity",), ("truncate", 3), ("bucket", 7)):
        assert canonical_pvals(
            pa.array(strs, pa.string()), StringType(), tr
        ) == [canonical_partition_value(v, StringType(), tr) for v in strs]
    dates = [datetime.date(2024, 6, 1), datetime.date(1999, 12, 31)]
    for tr in (("identity",), ("days",), ("months",), ("years",)):
        assert canonical_pvals(
            pa.array(dates, pa.date32()), DateType(), tr
        ) == [canonical_partition_value(v, DateType(), tr) for v in dates]
    utc = datetime.timezone.utc
    tss = [
        datetime.datetime(2024, 6, 1, 23, 45, 12, tzinfo=utc),
        datetime.datetime(2001, 1, 1, 0, 0, 0, tzinfo=utc),
    ]
    from pyspark.sql.types import TimestampType

    for tr in (("days",), ("months",), ("years",), ("hours",)):
        assert canonical_pvals(
            pa.array(tss, pa.timestamp("us", tz="UTC")), TimestampType(), tr
        ) == [canonical_partition_value(v, TimestampType(), tr) for v in tss]
    with _pytest.raises(ValueError, match="NULL"):
        canonical_pvals(pa.array(["a", None]), StringType())
    with _pytest.raises(ValueError, match="'\\|' or '/'"):
        canonical_pvals(pa.array(["a|b"]), StringType())


def test_snapshot_sink_appends_with_consistent_buckets(spark, tmp_path):
    """df.write.format('snapshot') lands rows in the SAME buckets
    Spark-side hashing would — certified by merging one sink-written key
    afterwards: exactly one bucket rewrites and no duplicate survives
    (a mis-bucketed row would escape the merge's bucket-pruned rewrite
    and duplicate the key)."""
    from mr_spark.sources.snapshot_source import register

    t = _mk_snap(spark, tmp_path, [(i, f"v{i}") for i in range(20)])
    register(spark)
    extra = spark.createDataFrame(
        [(i, f"n{i}") for i in range(100, 112)], "k bigint, v string"
    )
    extra.write.format("snapshot").mode("append").option("path", t.path).save()
    assert t.latest_version() == 2
    exp = sorted(
        [(i, f"v{i}") for i in range(20)]
        + [(i, f"n{i}") for i in range(100, 112)]
    )
    assert _rows_kv(t.read()) == exp
    m_pre = t._manifest(2)
    t.merge_upsert(spark.createDataFrame([(105, "M")], "k bigint, v string"))
    m_post = t._manifest(3)
    changed = [
        b for b in m_post["files"] if m_post["files"][b] != m_pre["files"].get(b)
    ]
    assert len(changed) == 1
    rows = _rows_kv(t.read())
    assert len(rows) == len(exp) and (105, "M") in rows
    # no stray staging debris after a successful commit
    assert not [e for e in os.listdir(t.path) if e.startswith("_staging_sink_")]


def _rows_kv(df):
    return sorted((r["k"], r["v"]) for r in df.collect())


def test_snapshot_sink_guards(spark, tmp_path):
    """Misuse fails loudly: overwrite mode, constrained tables, unknown
    columns, and type mismatches all raise instead of mis-writing."""
    import pytest

    from mr_spark.sources.snapshot_source import register

    t = _mk_snap(spark, tmp_path, [(1, "a")])
    register(spark)
    df = spark.createDataFrame([(2, "b")], "k bigint, v string")
    with pytest.raises(Exception, match="append"):
        df.write.format("snapshot").mode("overwrite").option(
            "path", t.path
        ).save()
    bad_col = spark.createDataFrame([(2, "b", 1)], "k bigint, v string, z bigint")
    with pytest.raises(Exception, match="not in the table"):
        bad_col.write.format("snapshot").mode("append").option(
            "path", t.path
        ).save()
    bad_type = spark.createDataFrame([(2, 3.5)], "k bigint, v double")
    with pytest.raises(Exception, match="type"):
        bad_type.write.format("snapshot").mode("append").option(
            "path", t.path
        ).save()
    t.add_constraint("v_nonempty", "length(v) > 0")
    with pytest.raises(Exception, match="constraint"):
        df.write.format("snapshot").mode("append").option(
            "path", t.path
        ).save()
    assert t.latest_version() == 2  # nothing committed by any attempt


def test_snapshot_sink_defers_checkpoint_and_rejects_identity_drift(spark, tmp_path):
    """A sink commit landing on the checkpoint boundary must not crash
    (the spark-less handle DEFERS the checkpoint; the next spark-ful
    committer rolls it), and a concurrent rebucket/constraint change
    between planning and commit must abort the sink."""
    import pytest
    from pyspark.sql.types import StructType

    from mr_spark.sources.snapshot_sink import SnapshotWriter
    from mr_spark.sources.snapshot_source import register

    t = _mk_snap(spark, tmp_path, [(1, "a")], n_buckets=2)
    t.checkpoint_interval = 10**9  # keep the instance from checkpointing
    register(spark)
    # 9 sink appends: v10's delta chain reaches the DEFAULT interval (8)
    # inside the sink's spark-less handle — must defer, not crash
    for i in range(9):
        spark.createDataFrame(
            [(10 + i, f"s{i}")], "k bigint, v string"
        ).write.format("snapshot").mode("append").option("path", t.path).save()
    assert t.latest_version() == 10
    from mr_spark.acid import SnapshotTable

    fresh = SnapshotTable(spark, t.path)
    assert len(_rows_kv(fresh.read())) == 10  # all appends landed
    # a spark-ful commit right after rolls the deferred checkpoint
    fresh.append(spark.createDataFrame([(99, "z")], "k bigint, v string"))
    assert fresh._checkpoint_versions(), "deferred checkpoint never rolled"
    # identity drift: plan a writer, rebucket concurrently, commit fails
    schema = spark.createDataFrame([(1, "x")], "k bigint, v string").schema
    w = SnapshotWriter({"path": t.path}, schema, overwrite=False)
    fresh.rebucket(4)
    with pytest.raises(RuntimeError, match="identity"):
        w.commit([])
def test_snapshot_sink_timestamp_roundtrip_across_session_zones(spark, tmp_path):
    """VERDICT r5 #4: timestamp columns through the V2 sink. The writer
    captures spark.sql.session.timeZone at PLANNING time and write()
    localizes the session-local naive datetimes to it before storing
    UTC-adjusted parquet — so the INSTANT round-trips exactly, through
    both the batch source and SnapshotTable.read, and stays the same
    instant when the session zone changes between write and read."""
    from mr_spark.acid import SnapshotTable as ST
    from mr_spark.sources.snapshot_source import register

    register(spark)
    prev = spark.conf.get("spark.sql.session.timeZone")
    try:
        spark.conf.set("spark.sql.session.timeZone", "America/New_York")
        ts_df = spark.sql(
            "SELECT 1L AS k, timestamp'2024-01-01 00:00:00' AS ts"
        )
        t2 = ST.create(
            spark, str(tmp_path / "ts_tbl"), ts_df, key="k", n_buckets=2
        )
        (
            spark.sql("SELECT 2L AS k, timestamp'2024-06-01 12:34:56' AS ts")
            .write.format("snapshot").mode("append")
            .option("path", t2.path).save()
        )
        # compare UNIX SECONDS (zone-independent instants) in a different
        # session zone than the write's
        spark.conf.set("spark.sql.session.timeZone", "Asia/Tokyo")
        got = {
            r["k"]: r["u"]
            for r in spark.read.format("snapshot")
            .option("path", t2.path)
            .load()
            .selectExpr("k", "unix_timestamp(ts) AS u")
            .collect()
        }
        # both rows were written under New_York — recompute the expected
        # instants under that zone explicitly
        spark.conf.set("spark.sql.session.timeZone", "America/New_York")
        want = {
            1: spark.sql(
                "SELECT unix_timestamp(timestamp'2024-01-01 00:00:00') AS u"
            ).collect()[0]["u"],
            2: spark.sql(
                "SELECT unix_timestamp(timestamp'2024-06-01 12:34:56') AS u"
            ).collect()[0]["u"],
        }
        assert got == want
        # SnapshotTable.read sees the same instants as the source
        got2 = {
            r["k"]: r["u"]
            for r in ST(spark, t2.path)
            .read()
            .selectExpr("k", "unix_timestamp(ts) AS u")
            .collect()
        }
        assert got2 == want
    finally:
        spark.conf.set("spark.sql.session.timeZone", prev)


def test_snapshot_stream_sink_exactly_once(spark, tmp_path):
    """writeStream.format('snapshot'): each micro-batch lands as ONE
    atomic commit carrying {app_id: batchId} in the txn map; a replayed
    epoch is a no-op (staging cleaned, nothing double-appended); a
    restart against the same checkpoint appends only NEW source files."""
    from mr_spark.sources.snapshot_sink import SnapshotStreamWriter
    from mr_spark.sources.snapshot_source import register

    t = _mk_snap(spark, tmp_path, [(i, f"v{i}") for i in range(5)])
    register(spark)
    land = tmp_path / "land"
    for lo, hi in ((100, 105), (105, 110)):
        spark.createDataFrame(
            [(i, f"s{i}") for i in range(lo, hi)], "k bigint, v string"
        ).coalesce(1).write.mode("append").parquet(str(land))
    stream = (
        spark.readStream.schema("k bigint, v string")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(land))
    )
    q = (
        stream.writeStream.format("snapshot")
        .option("path", t.path)
        .option("checkpointLocation", str(tmp_path / "cp"))
        .option("app_id", "s1")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    exp = sorted(
        [(i, f"v{i}") for i in range(5)]
        + [(i, f"s{i}") for i in range(100, 110)]
    )
    assert _rows_kv(t.read()) == exp
    v = t.latest_version()
    assert v == 3  # create + one commit per micro-batch (2 files)
    m = t._manifest(v)
    last_epoch = t._txns(m)["s1"]
    assert last_epoch == 1  # epochs 0 and 1 committed
    # manual REPLAY of the last epoch: engine restarts re-run a batch
    # whose commit already landed — must be a no-op
    w = SnapshotStreamWriter(
        {"path": t.path, "app_id": "s1"},
        spark.createDataFrame([], "k bigint, v string").schema,
    )
    import pyarrow as pa

    msg = w.write(
        iter(
            [
                pa.record_batch(
                    {"k": pa.array([100, 101], pa.int64()),
                     "v": pa.array(["s100", "s101"])}
                )
            ]
        )
    )
    w.commit([msg], last_epoch)
    assert t.latest_version() == v  # no new commit
    assert _rows_kv(t.read()) == exp  # no duplicates
    assert not [
        e for e in os.listdir(t.path) if e.startswith("_staging_sink_")
    ]
    # restart with one NEW landing file: only it is appended, once
    spark.createDataFrame(
        [(200, "s200")], "k bigint, v string"
    ).coalesce(1).write.mode("append").parquet(str(land))
    q2 = (
        spark.readStream.schema("k bigint, v string")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(land))
        .writeStream.format("snapshot")
        .option("path", t.path)
        .option("checkpointLocation", str(tmp_path / "cp"))
        .option("app_id", "s1")
        .trigger(availableNow=True)
        .start()
    )
    q2.awaitTermination(120)
    assert t.latest_version() == v + 1
    assert _rows_kv(t.read()) == sorted(exp + [(200, "s200")])


def test_snapshot_batch_source_timestamp_as_of(spark, tmp_path):
    """option('timestamp_as_of', unix_seconds) — Delta's timestampAsOf
    through the batch DataSource: reads the latest version committed at
    or before the instant; mutually exclusive with 'version'."""
    import time

    import pytest

    from mr_spark.sources.snapshot_source import register

    t = _mk_snap(spark, tmp_path, [(1, "a")])
    time.sleep(0.1)
    between = time.time()
    time.sleep(0.1)
    t.append(spark.createDataFrame([(2, "b")], "k bigint, v string"))
    register(spark)
    got = (
        spark.read.format("snapshot")
        .option("path", t.path)
        .option("timestamp_as_of", str(between))
        .load()
    )
    assert _rows_kv(got) == [(1, "a")]  # v1 only — v2 came after
    with pytest.raises(Exception, match="not both"):
        spark.read.format("snapshot").option("path", t.path).option(
            "timestamp_as_of", str(between)
        ).option("version", "2").load().collect()


def test_snapshot_stream_source_appends_and_change_commit_semantics(spark, tmp_path):
    """readStream.format('snapshot') — the table-as-stream read: the
    first batch is the full v1 snapshot, later batches are each commit's
    added files; a copy-on-write MERGE fails the stream by default
    (insert-only streams cannot represent updates) and is skipped
    entirely under skip_change_commits — Delta's semantics."""
    import pytest

    from mr_spark.sources.snapshot_source import register
    from mr_spark.streaming import run_to_completion

    t = _mk_snap(spark, tmp_path, [(i, f"v{i}") for i in range(6)])
    t.append(spark.createDataFrame([(10, "x"), (11, "y")], "k bigint, v string"))
    register(spark)
    feed = (
        spark.readStream.format("snapshot").option("path", t.path).load()
    )
    res = run_to_completion(
        feed.groupBy().count(),
        name="mrspark_snap_stream_1",
        output_mode="complete",
        state_partitions=2,
    )
    assert res.collect()[0]["count"] == 8  # initial snapshot at v2
    # a merge (CoW rewrite) in the history: a FRESH default stream reads
    # the CURRENT snapshot (no history replay) and sees the post-merge
    # value — Delta's initial-snapshot semantics
    t.merge_upsert(spark.createDataFrame([(1, "M")], "k bigint, v string"))
    t.append(spark.createDataFrame([(12, "z")], "k bigint, v string"))
    res = run_to_completion(
        spark.readStream.format("snapshot").option("path", t.path).load(),
        name="mrspark_snap_stream_2",
        output_mode="append",
        state_partitions=2,
    )
    rows = {(r["k"], r["v"]) for r in res.collect()}
    assert len(rows) == 9 and (1, "M") in rows  # current state, not v1's
    # EXPLICIT start_version replay (Delta's startingVersion): the CoW
    # commit in the replayed range fails the stream by default...
    with pytest.raises(Exception, match="not append-only"):
        run_to_completion(
            spark.readStream.format("snapshot")
            .option("path", t.path)
            .option("start_version", "1")
            .load()
            .groupBy()
            .count(),
            name="mrspark_snap_stream_3",
            output_mode="complete",
            state_partitions=2,
        )
    # ...and is skipped ENTIRELY under skip_change_commits: the replay
    # emits each commit AS WRITTEN, so k=1 keeps its PRE-merge value
    res = run_to_completion(
        spark.readStream.format("snapshot")
        .option("path", t.path)
        .option("start_version", "1")
        .option("skip_change_commits", "true")
        .load(),
        name="mrspark_snap_stream_4",
        output_mode="append",
        state_partitions=2,
    )
    rows = {(r["k"], r["v"]) for r in res.collect()}
    assert (1, "v1") in rows and (1, "M") not in rows  # as-written replay
    assert (12, "z") in rows  # v4's append still streams
    # bounded backfill: end_version=2 ignores later commits
    res = run_to_completion(
        spark.readStream.format("snapshot")
        .option("path", t.path)
        .option("start_version", "1")
        .option("end_version", "2")
        .load()
        .groupBy()
        .count(),
        name="mrspark_snap_stream_5",
        output_mode="complete",
        state_partitions=2,
    )
    assert res.collect()[0]["count"] == 8


def test_snapshot_sink_partitioned_roundtrip_and_merge(spark, tmp_path):
    """VERDICT r6 #1: df.write.format('snapshot') into a VALUE-PARTITIONED
    table. The sink computes composite "<value>|<hash>" bucket ids
    executor-side and publishes under data/<col>=<value>/ — certified by
    (a) a new partition value materializing as its own directory, (b)
    partition-pruned reads seeing sink rows, and (c) a cross-partition
    merge afterwards finding a sink-written key in its TRUE partition
    (a mis-composited id would escape the bucket-pruned rewrite and
    duplicate the key)."""
    from mr_spark.acid import SnapshotTable, _part_of
    from mr_spark.sources.snapshot_source import register

    df = spark.createDataFrame(
        [(i, f"d{i % 2}", f"v{i}") for i in range(8)],
        "k bigint, day string, v string",
    )
    t = SnapshotTable.create(
        spark, str(tmp_path / "ptbl"), df, key="k", n_buckets=2,
        partition_by="day",
    )
    register(spark)
    extra = spark.createDataFrame(
        [(100, "d1", "n100"), (101, "d9", "n101"), (102, "d9", "n102")],
        "k bigint, day string, v string",
    )
    extra.write.format("snapshot").mode("append").option("path", t.path).save()
    assert t.latest_version() == 2
    m = t._manifest(2)
    # every bucket id composite; new partition directory exists on disk
    assert all(_part_of(b) is not None for b in m["files"])
    assert os.path.isdir(os.path.join(t.path, "data", "day=d9"))
    for rels in m["files"].values():
        for rel in rels:
            assert os.path.exists(t._entry_full(rel))
    # partition-pruned reads see sink rows (and only their partition's)
    got = sorted(
        (r["k"], r["v"]) for r in t.read(where=("day", "d9", "d9")).collect()
    )
    assert got == [(101, "n101"), (102, "n102")]
    assert (100, "n100") in {
        (r["k"], r["v"]) for r in t.read(where=("day", "d1", "d1")).collect()
    }
    # the V2 batch source prunes the same way
    src = (
        spark.read.format("snapshot").option("path", t.path)
        .option("where", "day = 'd9'").load()
    )
    assert sorted(r["k"] for r in src.collect()) == [101, 102]
    # cross-partition merge: moves a sink-written key d1 -> d0, exactly
    # once (no duplicate), both partitions read correctly after
    t.merge_upsert(spark.createDataFrame(
        [(100, "d0", "MOVED")], "k bigint, day string, v string"
    ))
    rows = sorted((r["k"], r["day"], r["v"]) for r in t.read().collect())
    assert rows.count((100, "d0", "MOVED")) == 1
    assert not [x for x in rows if x[0] == 100 and x[1] == "d1"]
    assert len(rows) == 11
    # no staging debris
    assert not [e for e in os.listdir(t.path) if e.startswith("_staging_sink_")]


def test_snapshot_sink_partitioned_guards(spark, tmp_path):
    """Partitioned-sink misuse fails loudly with nothing committed: NULL
    partition values, values containing '|' or '/', a frame missing the
    partition column, an unsupported partition-column type, and identity
    tables (new planning guard this round)."""
    import pytest

    from mr_spark.acid import SnapshotTable
    from mr_spark.sources.snapshot_source import register

    df = spark.createDataFrame(
        [(1, "d1", "a")], "k bigint, day string, v string"
    )
    t = SnapshotTable.create(
        spark, str(tmp_path / "ptbl"), df, key="k", n_buckets=2,
        partition_by="day",
    )
    register(spark)
    sink = lambda frame: (
        frame.write.format("snapshot").mode("append")
        .option("path", t.path).save()
    )
    with pytest.raises(Exception, match="NULL"):
        sink(spark.createDataFrame(
            [(2, None, "b")], "k bigint, day string, v string"
        ))
    with pytest.raises(Exception, match=r"\|"):
        sink(spark.createDataFrame(
            [(2, "d|1", "b")], "k bigint, day string, v string"
        ))
    with pytest.raises(Exception, match="partition column"):
        sink(spark.createDataFrame([(2, "b")], "k bigint, v string"))
    assert t.latest_version() == 1  # nothing committed by any attempt
    assert t.read().count() == 1
    # unsupported partition-column type refuses at planning
    t2 = SnapshotTable.create(
        spark, str(tmp_path / "ftbl"),
        spark.createDataFrame([(1, 0.5, "a")], "k bigint, p double, v string"),
        key="k", n_buckets=2, partition_by="p",
    )
    with pytest.raises(Exception, match="partition"):
        spark.createDataFrame(
            [(2, 1.5, "b")], "k bigint, p double, v string"
        ).write.format("snapshot").mode("append").option("path", t2.path).save()
    # identity tables refuse the sink (no executor-side allocation)
    t3 = SnapshotTable.create(
        spark, str(tmp_path / "itbl"),
        spark.createDataFrame([(1, "a")], "k bigint, v string"),
        key="k", n_buckets=2, identity="rid",
    )
    with pytest.raises(Exception, match="IDENTITY"):
        spark.createDataFrame(
            [(2, "b")], "k bigint, v string"
        ).write.format("snapshot").mode("append").option("path", t3.path).save()


def test_snapshot_sink_partitioned_date_column(spark, tmp_path):
    """DateType partition columns: the executor-side canonical form
    (ISO YYYY-MM-DD) must match Spark's CAST(col AS STRING), certified by
    sink rows landing in the SAME composite buckets a SnapshotTable
    write computes and partition-pruned reads finding them."""
    import datetime

    from mr_spark.acid import SnapshotTable
    from mr_spark.sources.snapshot_source import register

    d1, d2 = datetime.date(2024, 1, 1), datetime.date(2024, 1, 2)
    df = spark.createDataFrame(
        [(1, d1, "a"), (2, d2, "b")], "k bigint, day date, v string"
    )
    t = SnapshotTable.create(
        spark, str(tmp_path / "dtbl"), df, key="k", n_buckets=2,
        partition_by="day",
    )
    register(spark)
    spark.createDataFrame(
        [(3, d1, "c")], "k bigint, day date, v string"
    ).write.format("snapshot").mode("append").option("path", t.path).save()
    got = sorted(
        r["k"]
        for r in t.read(where=("day", "2024-01-01", "2024-01-01")).collect()
    )
    assert got == [1, 3]
    # same-partition sink + native writes share composite bucket ids
    m = t._manifest(t.latest_version())
    assert {b.rsplit("|", 1)[0] for b in m["files"]} == {
        "2024-01-01", "2024-01-02"
    }


def test_spark_catalog_table_options_engine_canary(spark):
    """ENGINE CANARY, not a feature test: pins the Spark 4.1.2 gap that
    blocks ``CREATE TABLE ... USING snapshot`` (VERDICT r6 #4).
    ``PythonDataSourceV2.getTable(schema, partitioning, properties)``
    DISCARDS the catalog-stored properties map (bytecode:
    ``PythonTable.<init>`` takes only provider/shortName/schema), so a
    SELECT against the catalog table constructs a fresh Python source
    with EMPTY options — any option-dependent source (ours needs
    ``path``) cannot locate its data. Measured here end-to-end: the
    DDL-time instance receives the options; the scan-time reader sees
    none.

    WHEN THIS TEST FAILS the image's Spark passes stored table
    properties through to the scan: wire CREATE TABLE ... USING
    snapshot (the path arrives as a file: URI — _local_path already
    normalizes it), register a catalog-DDL query, and retire
    register_snapshot_view's engine-gap caveat."""
    from pyspark.sql.datasource import DataSource, DataSourceReader, InputPartition

    class EchoReader(DataSourceReader):
        def __init__(self, opts):
            self.tag = opts.get("tag") or "MISSING"

        def partitions(self):
            return [InputPartition(0)]

        def read(self, partition):
            yield (self.tag,)

    class EchoSource(DataSource):
        @classmethod
        def name(cls):
            return "catalog_options_canary"

        def schema(self):
            return "tag string"

        def reader(self, schema):
            return EchoReader(self.options)

    spark.dataSource.register(EchoSource)
    spark.sql("DROP TABLE IF EXISTS catalog_canary_t")
    try:
        spark.sql(
            "CREATE TABLE catalog_canary_t USING catalog_options_canary "
            "OPTIONS (tag 'propagated')"
        )
        got = spark.sql("SELECT tag FROM catalog_canary_t").collect()[0]["tag"]
        assert got == "MISSING", (
            f"catalog scan saw option tag={got!r} — Spark now propagates "
            "stored table properties to Python data sources. The SQL DDL "
            "surface is usable: see this test's docstring for what to wire."
        )
    finally:
        spark.sql("DROP TABLE IF EXISTS catalog_canary_t")


def test_register_snapshot_view_pure_sql_surface(spark, tmp_path):
    """register_snapshot_view binds TEMP VIEWS once; everything after is
    pure SQL — current-state reads, version-pinned time travel, joins
    across the two, and option pass-through (where)."""
    from mr_spark.sources.snapshot_source import register_snapshot_view

    t = _mk_snap(spark, tmp_path, [(i, f"v{i}") for i in range(6)])
    t.append(spark.createDataFrame([(10, "new")], "k bigint, v string"))
    register_snapshot_view(spark, "snap_cur", t.path)
    register_snapshot_view(spark, "snap_v1", t.path, version=1)
    register_snapshot_view(spark, "snap_w", t.path, where="k >= 3")
    assert spark.sql("SELECT COUNT(*) c FROM snap_cur").collect()[0]["c"] == 7
    assert spark.sql("SELECT COUNT(*) c FROM snap_v1").collect()[0]["c"] == 6
    assert spark.sql("SELECT COUNT(*) c FROM snap_w").collect()[0]["c"] == 4
    joined = spark.sql(
        "SELECT COUNT(*) c FROM snap_cur a JOIN snap_v1 b ON a.k = b.k"
    ).collect()[0]["c"]
    assert joined == 6  # k=10 exists only in the current view
    for n in ("snap_cur", "snap_v1", "snap_w"):
        spark.catalog.dropTempView(n)


def test_snapshot_source_reads_widened_table(spark, tmp_path):
    """After widen_column, the V2 batch source must serve the WIDE
    manifest schema over the narrow parquet pages (its pyarrow scan
    yields Python objects, so int32 pages surface as bigint rows) —
    including files written BEFORE and AFTER the widening, and DML on
    the widened column."""
    from mr_spark.acid import SnapshotTable
    from mr_spark.sources.snapshot_source import register

    df = spark.createDataFrame(
        [(1, 10, 1.5), (2, 20, 2.5)], "k bigint, n int, f float"
    )
    t = SnapshotTable.create(
        spark, str(tmp_path / "wt"), df, key="k", n_buckets=2
    )
    t.widen_column("n", "bigint")
    t.widen_column("f", "double")
    t.append(spark.createDataFrame([(3, 30, 3.5)], "k bigint, n int, f float"))
    t.update({"n": "n + 1000"}, where=("k", 2, 2))
    register(spark)
    out = spark.read.format("snapshot").option("path", t.path).load()
    assert dict(out.dtypes) == {"k": "bigint", "n": "bigint", "f": "double"}
    got = sorted((r["k"], r["n"], r["f"]) for r in out.collect())
    assert got == [(1, 10, 1.5), (2, 1020, 2.5), (3, 30, 3.5)]
    # row-level where over the widened column still filters exactly
    hit = (
        spark.read.format("snapshot")
        .option("path", t.path)
        .option("where", "n >= 1000")
        .load()
    )
    assert [r["k"] for r in hit.collect()] == [2]
