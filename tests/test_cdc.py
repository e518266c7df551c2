"""MERGE-upsert emulation: source wins on match, unmatched target rows
survive, no duplicates."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from mr_spark.operators.cdc import merge_upsert
from mr_spark.sources import load_table

from conftest import SF_DIR


def test_merge_upsert(spark):
    c = load_table(spark, SF_DIR, "customer")
    # updates: bump acctbal for a third of customers
    updates = c.where(F.col("c_custkey") % 3 == 0).withColumn(
        "c_acctbal", F.col("c_acctbal") + 1000.0
    )
    merged = merge_upsert(c, updates, "c_custkey")
    assert merged.count() == c.count()  # pure upsert: cardinality unchanged
    assert merged.select("c_custkey").distinct().count() == c.count()
    bumped = merged.join(updates.select("c_custkey"), "c_custkey", "left_semi")
    orig_third = c.where(F.col("c_custkey") % 3 == 0)
    assert (
        bumped.agg(F.sum("c_acctbal")).first()[0]
        - orig_third.agg(F.sum("c_acctbal")).first()[0]
    ) - 1000.0 * orig_third.count() < 1e-6


def test_merge_upsert_with_inserts(spark):
    c = load_table(spark, SF_DIR, "customer")
    new_rows = c.limit(5).withColumn("c_custkey", F.col("c_custkey") + 1_000_000)
    merged = merge_upsert(c, new_rows, "c_custkey")
    assert merged.count() == c.count() + 5


def test_apply_changes_narrow_feed_types_align(spark, tmp_path):
    """A change feed whose key/value columns carry NARROWER types than
    the table (int vs bigint — e.g. a replica fed from an external CDC
    system) must upcast on entry: the key drives touched-bucket
    planning (hash(int) != hash(bigint) would silently miss the target
    rows) and post rows are written under the table's types."""
    from mr_spark.acid import SnapshotTable

    t = SnapshotTable.create(
        spark,
        str(tmp_path / "tbl"),
        spark.createDataFrame([(1, 10), (2, 20)], "k bigint, n bigint"),
        key="k",
        n_buckets=2,
    )
    feed = spark.createDataFrame(
        [("update_postimage", 2, 99), ("insert", 3, 30), ("delete", 1, 10)],
        "_change_type string, k int, n int",
    )
    t.apply_changes(feed)
    got = sorted((r["k"], r["n"]) for r in t.read().collect())
    assert got == [(2, 99), (3, 30)]
    # a second keyed write under correct types still finds the rows
    t.merge_upsert(spark.createDataFrame([(3, 333)], "k bigint, n bigint"))
    got = sorted((r["k"], r["n"]) for r in t.read().collect())
    assert got == [(2, 99), (3, 333)]


def test_apply_changes_refuses_non_lossless_feed_key(spark, tmp_path):
    """The feed KEY gets the same lossless-widening contract as every
    value column (ADVICE r7): a string/double feed key against a bigint
    table must raise up front — a silent coercion would either abort
    the job mid-write under ANSI or target the wrong rows under
    non-ANSI's wrapping cast."""
    from mr_spark.acid import SnapshotTable

    t = SnapshotTable.create(
        spark,
        str(tmp_path / "tbl"),
        spark.createDataFrame([(1, 10), (2, 20)], "k bigint, n bigint"),
        key="k",
        n_buckets=2,
    )
    for bad_feed in (
        spark.createDataFrame(
            [("insert", "3", 30)], "_change_type string, k string, n bigint"
        ),
        spark.createDataFrame(
            [("insert", 3.0, 30)], "_change_type string, k double, n bigint"
        ),
    ):
        with pytest.raises(ValueError, match="lossless"):
            t.apply_changes(bad_feed)
    assert t.read().count() == 2  # nothing committed


def test_apply_changes_merge_schema_evolves_replica(spark, tmp_path):
    """A replica whose upstream evolved keeps replicating with
    merge_schema=True: the new column lands in the same CDC-apply
    commit, carried rows read NULL; without the flag it raises."""
    from mr_spark.acid import SnapshotTable

    t = SnapshotTable.create(
        spark,
        str(tmp_path / "replica"),
        spark.createDataFrame([(1, "a"), (2, "b")], "k bigint, v string"),
        key="k",
        n_buckets=2,
    )
    feed = spark.createDataFrame(
        [("insert", 3, "c", 9.5), ("update_postimage", 1, "A", 1.5)],
        "_change_type string, k bigint, v string, score double",
    )
    with pytest.raises(ValueError, match="merge_schema"):
        t.apply_changes(feed)
    v = t.apply_changes(feed, merge_schema=True)
    got = sorted(
        (r["k"], r["v"], r["score"]) for r in t.read().collect()
    )
    assert got == [(1, "A", 1.5), (2, "b", None), (3, "c", 9.5)]
    h = {r["version"]: r for r in t.history()}
    assert h[v]["params"]["schema_evolved"] is True
    fresh = SnapshotTable(spark, t.path)
    assert fresh.read().columns == ["k", "v", "score"]


def test_fixture_memo_rebuilds_after_other_sf_dir(spark, duck, tmp_path):
    """Demo tables live at one pid-scoped path per demo name, so running
    the same queries for a second sf_dir rebuilds them there. Coming
    back to the first sf_dir must rebuild again instead of reusing a
    memoized handle whose files are gone — also for the fixtures that
    return a (table, extra) tuple (the scale-probe pattern: sf A, sf B,
    sf A in one process). sf B is a copy of sf A, so one oracle serves
    both."""
    import shutil

    from mr_spark import operators as ops
    from mr_spark.oracle import diff

    sf_b = str(tmp_path / "sf_b")
    shutil.copytree(SF_DIR, sf_b)
    queries, oracles = ops.queries(), ops.oracle_sql()
    names = ("snapshot_clone_shallow", "copy_into_idempotent", "acid_merge_upsert")
    for sf in (SF_DIR, sf_b, SF_DIR):
        for name in names:
            got = queries[name](spark, sf).toPandas()
            problems = diff(got, duck.execute(oracles[name]).fetchdf())
            assert not problems, f"{name} @ {sf}: {problems}"
