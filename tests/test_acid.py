"""SnapshotTable (mr_spark/acid.py) protocol tests: merge semantics,
atomic-commit crash safety, time travel, optimistic conflicts, vacuum,
and bucket-pruned copy-on-write (untouched buckets carried by reference).
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from mr_spark.acid import ConflictError, ConstraintViolation, SnapshotTable


def _mk(spark, tmp_path, rows, n_buckets=4):
    df = spark.createDataFrame(rows, "k bigint, v string")
    return SnapshotTable.create(
        spark, str(tmp_path / "tbl"), df, key="k", n_buckets=n_buckets
    )


def _rows(df):
    return sorted((r["k"], r["v"]) for r in df.collect())


def test_merge_updates_and_inserts(spark, tmp_path):
    t = _mk(spark, tmp_path, [(1, "a"), (2, "b"), (3, "c")])
    src = spark.createDataFrame([(2, "B"), (9, "Z")], "k bigint, v string")
    v = t.merge_upsert(src)
    assert v == 2
    assert _rows(t.read()) == [(1, "a"), (2, "B"), (3, "c"), (9, "Z")]


def test_time_travel_old_version_intact(spark, tmp_path):
    t = _mk(spark, tmp_path, [(1, "a"), (2, "b")])
    t.merge_upsert(spark.createDataFrame([(1, "A")], "k bigint, v string"))
    assert _rows(t.read(version=1)) == [(1, "a"), (2, "b")]
    assert _rows(t.read()) == [(1, "A"), (2, "b")]


def test_crash_before_commit_is_invisible_and_vacuumable(spark, tmp_path):
    """A writer that dies after writing data files but BEFORE the pointer
    rename leaves the committed version untouched; its orphans are
    invisible to read() (manifest-listed files only) and vacuum() collects
    them."""
    t = _mk(spark, tmp_path, [(1, "a"), (2, "b")])
    before = _rows(t.read())
    # simulate the dead writer: data files land, no manifest, no pointer
    orphan_df = spark.createDataFrame([(7, "GHOST")], "k bigint, v string")
    t._write_bucket_files(
        orphan_df.withColumn("__bucket", F.pmod(F.hash(F.col("k")), F.lit(4))),
        t._manifest(1),
    )
    assert t.latest_version() == 1
    assert _rows(t.read()) == before  # orphan rows invisible
    # default vacuum is retention-gated (it must not delete files an
    # IN-FLIGHT writer staged seconds ago) — the fresh orphans survive it
    assert t.vacuum() == []
    dead = t.vacuum(min_age_seconds=0)
    assert dead, "vacuum found no orphans"
    assert _rows(t.read()) == before  # live files untouched


def test_crashed_staging_dir_is_vacuumed(spark, tmp_path):
    """A writer that dies mid-_write_bucket_files leaves a _staging_* dir;
    age-gated vacuum collects it."""
    t = _mk(spark, tmp_path, [(1, "a")])
    os.makedirs(os.path.join(t.path, "_staging_deadbeef"))
    assert t.vacuum() == []  # retention gate protects young staging
    dead = t.vacuum(min_age_seconds=0)
    assert "_staging_deadbeef" in dead
    assert not os.path.exists(os.path.join(t.path, "_staging_deadbeef"))


def test_stale_base_commit_rejected_and_winner_untouched(spark, tmp_path):
    """A stale writer must get ConflictError AND must not damage the
    winner's committed manifest — the clobber-then-unlink failure mode of
    a write-then-check protocol (the manifest create is atomic via
    link(2), so the loser never touches the winner's file)."""
    t = _mk(spark, tmp_path, [(1, "a")])
    t.merge_upsert(spark.createDataFrame([(2, "b")], "k bigint, v string"))
    winner = t._manifest(2)
    committed_rows = _rows(t.read())
    with pytest.raises(ConflictError):
        t._commit(
            {
                "key": winner["key"],
                "n_buckets": winner["n_buckets"],
                "schema": winner["schema"],
                "files": {},  # a would-be-corrupting manifest
            },
            base_version=1,  # stale: latest is 2
        )
    assert t.latest_version() == 2
    # the committed v2 manifest is byte-identical and still readable
    assert t._manifest(2) == winner
    assert _rows(t.read()) == committed_rows
    # no temp debris from the aborted attempt
    assert all(
        ".tmp." not in fn for fn in os.listdir(t._versions_dir())
    )


def test_merge_rewrites_only_affected_buckets(spark, tmp_path):
    """Copy-on-write pruning: buckets without source keys must carry their
    ORIGINAL file paths into the new manifest — zero data movement."""
    rows = [(k, f"v{k}") for k in range(40)]
    t = _mk(spark, tmp_path, rows, n_buckets=4)
    m1 = t._manifest(1)
    src = spark.createDataFrame([(0, "NEW")], "k bigint, v string")
    src_bucket = str(
        src.select(F.pmod(F.hash(F.col("k")), F.lit(4)).alias("b")).collect()[0]["b"]
    )
    t.merge_upsert(src)
    m2 = t._manifest(2)
    for b in m1["files"]:
        if b == src_bucket:
            assert m2["files"][b] != m1["files"][b]
        else:
            assert m2["files"][b] == m1["files"][b], f"bucket {b} was rewritten"
    # and the data itself is right
    expect = sorted([(k, "NEW" if k == 0 else f"v{k}") for k in range(40)])
    assert _rows(t.read()) == expect


def test_append_accumulates_then_compact_rewrites(spark, tmp_path):
    t = _mk(spark, tmp_path, [(k, f"v{k}") for k in range(20)])
    t.append(spark.createDataFrame([(100, "x"), (101, "y")], "k bigint, v string"))
    t.append(spark.createDataFrame([(102, "z")], "k bigint, v string"))
    m = t._manifest(t.latest_version())
    assert any(len(rels) > 1 for rels in m["files"].values()), "no multi-file bucket"
    before = _rows(t.read())
    assert len(before) == 23
    v = t.compact()
    m2 = t._manifest(v)
    assert all(len(rels) == 1 for rels in m2["files"].values())
    assert _rows(t.read()) == before  # OPTIMIZE must not change data
    # single-file buckets were carried by reference, not rewritten
    carried = [
        b for b, rels in m["files"].items() if len(rels) == 1
    ]
    for b in carried:
        assert m2["files"][b] == m["files"][b]


def test_delete_keys_removes_rows_and_prunes_buckets(spark, tmp_path):
    t = _mk(spark, tmp_path, [(k, f"v{k}") for k in range(20)])
    m1 = t._manifest(1)
    t.delete_keys(spark.createDataFrame([(3,), (7,)], "k bigint"))
    got = _rows(t.read())
    assert got == sorted((k, f"v{k}") for k in range(20) if k not in (3, 7))
    # buckets without deleted keys keep their original files
    m2 = t._manifest(2)
    from pyspark.sql import functions as SF

    del_buckets = {
        str(r["b"])
        for r in spark.createDataFrame([(3,), (7,)], "k bigint")
        .select(SF.pmod(SF.hash(SF.col("k")), SF.lit(4)).alias("b"))
        .collect()
    }
    for b in m1["files"]:
        if b not in del_buckets:
            assert m2["files"][b] == m1["files"][b]


def test_merge_batch_id_replay_is_noop(spark, tmp_path):
    t = _mk(spark, tmp_path, [(1, "a")])
    src = spark.createDataFrame([(1, "A"), (2, "b")], "k bigint, v string")
    v1 = t.merge_upsert(src, batch_id=7)
    after = _rows(t.read())
    v2 = t.merge_upsert(src, batch_id=7)  # replayed micro-batch
    assert v2 == v1  # no new version
    assert _rows(t.read()) == after
    # a NEW batch id applies normally
    v3 = t.merge_upsert(
        spark.createDataFrame([(3, "c")], "k bigint, v string"), batch_id=8
    )
    assert v3 == v1 + 1


def test_interleaved_tagged_writers_each_keep_replay_protection(spark, tmp_path):
    """VERDICT r3 #3: the txn tag is a PER-WRITER map, not a single slot.
    Two tagged writers (two streams, or a stream + tagged batch merges)
    interleave commits to one table; a replay of EITHER writer's last
    micro-batch must be a no-op even though the other writer committed in
    between — the single-slot design silently degraded this to
    at-least-once (the interleaving overwrote the first writer's tag)."""
    t = _mk(spark, tmp_path, [(1, "a")])

    def src(k, v):
        return spark.createDataFrame([(k, v)], "k bigint, v string")

    va = t.merge_upsert(src(10, "A0"), batch_id=0, app_id="streamA")
    vb = t.merge_upsert(src(20, "B0"), batch_id=0, app_id="streamB")
    assert vb == va + 1
    after = _rows(t.read())
    # replay streamA's batch 0 AFTER streamB's interleaved commit
    assert t.merge_upsert(src(10, "A0"), batch_id=0, app_id="streamA") == vb
    # replay streamB's batch 0 too
    assert t.merge_upsert(src(20, "B0"), batch_id=0, app_id="streamB") == vb
    assert _rows(t.read()) == after
    # fresh batch ids from both writers still apply
    v2 = t.merge_upsert(src(11, "A1"), batch_id=1, app_id="streamA")
    assert v2 == vb + 1
    v3 = t.merge_upsert(src(21, "B1"), batch_id=1, app_id="streamB")
    assert v3 == v2 + 1
    # and both writers' tags survived in the committed manifest
    m = t._manifest(v3)
    assert m["txns"] == {"streamA": 1, "streamB": 1}


def test_expire_versions_unlocks_vacuum_of_superseded_files(spark, tmp_path):
    """ADVICE r3: without manifest expiration, files superseded by
    copy-on-write merges stay referenced by old versions forever and are
    never reclaimable. expire_versions (Delta's log retention) drops old
    manifests — latest always kept — and the same vacuum pass then
    collects the files only they referenced."""
    t = _mk(spark, tmp_path, [(1, "a"), (2, "b")], n_buckets=1)
    t.merge_upsert(spark.createDataFrame([(1, "A")], "k bigint, v string"))
    t.merge_upsert(spark.createDataFrame([(2, "B")], "k bigint, v string"))
    # all three versions' files live → nothing collectible even at age 0
    assert t.vacuum(min_age_seconds=0) == []
    before = _rows(t.read())
    expired = t.expire_versions(min_age_seconds=0)
    assert expired == [1, 2]
    assert t.latest_version() == 3  # latest always survives
    dead = t.vacuum(min_age_seconds=0)
    assert dead, "expiration released no files"
    assert _rows(t.read()) == before  # latest version fully intact
    # the one-call form: vacuum(version_retention_seconds=...) composes both
    t2 = _mk(spark, tmp_path / "t2", [(1, "a")], n_buckets=1)
    t2.merge_upsert(spark.createDataFrame([(1, "A")], "k bigint, v string"))
    dead2 = t2.vacuum(min_age_seconds=0, version_retention_seconds=0)
    assert dead2 and _rows(t2.read()) == [(1, "A")]
    with pytest.raises(Exception):
        t2.read(version=1)  # expired version no longer time-travelable


def test_change_feed_classifies_insert_update_delete(spark, tmp_path):
    """changes(v_from, v_to) derives Delta-CDF rows from two immutable
    versions: insert (key only in v_to), delete (key only in v_from),
    update_preimage/postimage (key in both, row differs). Unchanged rows
    — including ones REWRITTEN into new files by a bucket rewrite —
    produce no feed rows."""
    t = _mk(spark, tmp_path, [(1, "a"), (2, "b"), (3, "c")], n_buckets=1)
    t.merge_upsert(spark.createDataFrame([(2, "B"), (9, "Z")], "k bigint, v string"))
    got = sorted(map(tuple, t.changes(1, 2).collect()))
    assert got == [
        ("insert", 9, "Z"),
        ("update_postimage", 2, "B"),
        ("update_preimage", 2, "b"),
    ]  # rows 1 and 3 were rewritten (n_buckets=1) but unchanged → no rows
    t.delete_keys(spark.createDataFrame([(1,)], "k bigint"))
    got2 = sorted(map(tuple, t.changes(2, 3).collect()))
    assert got2 == [("delete", 1, "a")]
    # spanning feed composes the whole history
    got13 = sorted(map(tuple, t.changes(1, 3).collect()))
    assert ("delete", 1, "a") in got13 and ("insert", 9, "Z") in got13


def test_change_feed_reads_only_changed_buckets(spark, tmp_path):
    """Manifest-diff pruning: a 1-key merge leaves every other bucket's
    file list identical, and identical file lists prove zero changes —
    the CDF plan must SCAN only the differing buckets' files (asserted on
    the plan's inputFiles, not just on the helper: unchanged buckets
    yield no feed rows either way, so row output alone can't pin this)."""
    t = _mk(spark, tmp_path, [(k, f"v{k}") for k in range(40)], n_buckets=4)
    t.merge_upsert(spark.createDataFrame([(0, "NEW")], "k bigint, v string"))
    m1, m2 = t._manifest(1), t._manifest(2)
    changed = t._changed_buckets(m1, m2)
    assert len(changed) == 1  # only key 0's bucket was rewritten
    feed = t.changes(1, 2)
    allowed = {
        os.path.join(t.path, rel)
        for m in (m1, m2)
        for b in changed
        for rel in m["files"].get(b, [])
    }
    scanned = {f.removeprefix("file://") for f in feed.inputFiles()}
    assert scanned and scanned <= allowed, scanned
    n_all_files = sum(len(r) for r in m1["files"].values()) + sum(
        len(r) for r in m2["files"].values()
    )
    assert len(scanned) < n_all_files
    got = sorted(map(tuple, feed.collect()))
    assert got == [("update_postimage", 0, "NEW"), ("update_preimage", 0, "v0")]


def test_change_feed_duplicate_keys_from_append(spark, tmp_path):
    """append() explicitly permits duplicate keys (blind insert) — the
    feed must report ONLY the added copy, not fan out old×new pairs as a
    key join would. Multiset semantics: (k=1,'a') exists in both versions,
    the append adds a second row for k=1."""
    t = _mk(spark, tmp_path, [(1, "a"), (2, "b")], n_buckets=1)
    t.append(spark.createDataFrame([(1, "a2")], "k bigint, v string"))
    got = sorted(map(tuple, t.changes(1, 2).collect()))
    assert got == [("insert", 1, "a2")]
    # an appended EXACT duplicate row is a genuine multiset change too
    t.append(spark.createDataFrame([(2, "b")], "k bigint, v string"))
    assert sorted(map(tuple, t.changes(2, 3).collect())) == [("insert", 2, "b")]


def test_change_feed_null_keys(spark, tmp_path):
    """NULL-key rows are storable (hash(NULL) buckets them like any other
    value) — an unchanged NULL-key row in a rewritten bucket must produce
    NO feed rows, and a genuine NULL-key change must classify correctly
    (a key equi-join would never match NULL=NULL and emit spurious
    delete+insert pairs). The multiset groupBy groups NULLs."""
    t = _mk(spark, tmp_path, [(None, "n"), (1, "a")], n_buckets=1)
    # rewrite the (single) bucket via a merge touching only key 1
    t.merge_upsert(spark.createDataFrame([(1, "A")], "k bigint, v string"))
    got = sorted(map(tuple, t.changes(1, 2).collect()))
    assert got == [("update_postimage", 1, "A"), ("update_preimage", 1, "a")]
    # a genuine NULL-key row change (delete_keys can't address NULL —
    # simulate via append of a second NULL-key row)
    t.append(spark.createDataFrame([(None, "n2")], "k bigint, v string"))
    assert sorted(map(tuple, t.changes(2, 3).collect())) == [("insert", None, "n2")]


def test_change_feed_rejects_reversed_range(spark, tmp_path):
    t = _mk(spark, tmp_path, [(1, "a")])
    t.merge_upsert(spark.createDataFrame([(2, "b")], "k bigint, v string"))
    with pytest.raises(ValueError, match="v_from"):
        t.changes(2, 1)


def test_change_feed_append_and_compact(spark, tmp_path):
    """Blind appends surface as inserts; compaction (OPTIMIZE) rewrites
    files without changing data — its feed must be EMPTY even though
    every multi-file bucket's file list differs."""
    t = _mk(spark, tmp_path, [(1, "a")], n_buckets=1)
    t.append(spark.createDataFrame([(2, "b")], "k bigint, v string"))
    assert sorted(map(tuple, t.changes(1, 2).collect())) == [("insert", 2, "b")]
    v = t.compact()
    assert v == 3
    assert t.changes(2, 3).count() == 0


def test_timestamp_time_travel(spark, tmp_path):
    """version_at(ts) — Delta's timestampAsOf: latest version committed at
    or before ts, resolved from IN-COMMIT timestamps (recorded in the
    version record itself)."""
    import time

    t = _mk(spark, tmp_path, [(1, "a")])
    between = time.time()
    time.sleep(0.05)
    t.merge_upsert(spark.createDataFrame([(1, "A")], "k bigint, v string"))
    assert t.version_at(between) == 1
    assert t.version_at(time.time()) == 2
    assert _rows(t.read(t.version_at(between))) == [(1, "a")]
    with pytest.raises(ValueError, match="no version"):
        t.version_at(between - 3600)


def test_in_commit_timestamps_survive_mtime_rewrites(spark, tmp_path):
    """Delta's inCommitTimestamps: the commit instant lives in the
    record, so timestamp time travel and history stay correct after a
    copy/rsync rewrites every file mtime — and the recorded instants are
    strictly monotonic across commits."""
    import time

    t = _mk(spark, tmp_path, [(1, "a")])
    between = time.time()
    time.sleep(0.05)
    t.merge_upsert(spark.createDataFrame([(1, "A")], "k bigint, v string"))
    t.append(spark.createDataFrame([(9, "z")], "k bigint, v string"))
    # simulate a table copy: every log record's mtime becomes "now"
    for fn in os.listdir(t._versions_dir()):
        os.utime(os.path.join(t._versions_dir(), fn))
    assert t.version_at(between) == 1  # mtimes all lie; records don't
    hist = t.history()
    ts = [h["timestamp"] for h in reversed(hist)]  # oldest first
    assert ts == sorted(ts) and len(set(ts)) == len(ts)
    # every record carries the in-commit timestamp
    for v in (1, 2, 3):
        assert "ts" in t._read_vfile(v)


def test_schema_evolution_append(spark, tmp_path):
    """append(merge_schema=True) adds new columns to the MANIFEST schema
    without rewriting data (the log owns the schema): pre-existing files
    read NULL for the new column; without the flag new columns raise;
    same-name type conflicts always raise."""
    t = _mk(spark, tmp_path, [(1, "a"), (2, "b")])
    ev = spark.createDataFrame([(3, "c", 9.5)], "k bigint, v string, score double")
    with pytest.raises(ValueError, match="merge_schema"):
        t.append(ev)
    t.append(ev, merge_schema=True)
    got = sorted(
        (r["k"], r["v"], r["score"]) for r in t.read().collect()
    )
    assert got == [(1, "a", None), (2, "b", None), (3, "c", 9.5)]
    # time travel predates the evolution: v1 still reads the OLD schema
    assert t.read(1).columns == ["k", "v"]
    # type conflict on an existing column always raises
    bad = spark.createDataFrame([(4, 5)], "k bigint, v bigint")
    with pytest.raises(ValueError, match="type"):
        t.append(bad, merge_schema=True)
    # a df OMITTING table columns appends NULLs there
    t.append(spark.createDataFrame([(9,)], "k bigint"))
    row9 = [r for r in t.read().collect() if r["k"] == 9][0]
    assert row9["v"] is None and row9["score"] is None


def test_schema_evolution_merge_and_feed(spark, tmp_path):
    """After evolution, MERGE reads the table under the manifest schema
    (old files' new columns are NULL), a source missing the new column
    upserts NULL there, a source with UNKNOWN columns is rejected, and the
    change feed across the evolution compares rows in the end-schema."""
    t = _mk(spark, tmp_path, [(1, "a"), (2, "b")], n_buckets=1)
    t.append(
        spark.createDataFrame([(3, "c", 9.5)], "k bigint, v string, score double"),
        merge_schema=True,
    )
    with pytest.raises(ValueError, match="not in the table schema"):
        t.merge_upsert(
            spark.createDataFrame([(1, "x", 0)], "k bigint, v string, zz bigint")
        )
    t.merge_upsert(spark.createDataFrame([(1, "A")], "k bigint, v string"))
    got = sorted((r["k"], r["v"], r["score"]) for r in t.read().collect())
    assert got == [(1, "A", None), (2, "b", None), (3, "c", 9.5)]
    feed = sorted(map(tuple, t.changes(2, 3).collect()))
    assert feed == [
        ("update_postimage", 1, "A", None),
        ("update_preimage", 1, "a", None),
    ]  # rows 2/3 unchanged (NULL == NULL in the multiset diff) → no rows


def test_matview_maintenance_covers_deletes(spark, tmp_path):
    """maintain_agg_view folds a multi-commit CDF slice (merge + DELETE +
    append — the registered matview_incremental query's fixture has no
    deletes, so the subtract path is pinned here): the maintained view
    must equal a recompute over the final version, and a group whose
    count reaches zero must drop out."""
    from pyspark.sql import functions as F

    from mr_spark.operators.cdc import maintain_agg_view

    t = _mk(spark, tmp_path, [(1, "a"), (2, "b"), (3, "a"), (4, "c")])

    def agg(df):
        return df.groupBy("v").agg(
            F.count("*").alias("n"), F.sum("k").alias("rev")
        )

    mv1 = agg(t.read(1))
    t.merge_upsert(spark.createDataFrame([(3, "b")], "k bigint, v string"))
    t.delete_keys(spark.createDataFrame([(4,)], "k bigint"))  # kills group c
    t.append(spark.createDataFrame([(5, "a")], "k bigint, v string"))
    feed = t.changes(1, 4).select("_change_type", "v", F.col("k").alias("val"))
    maintained = sorted(
        map(tuple, maintain_agg_view(mv1, feed, "v").collect())
    )
    recomputed = sorted(map(tuple, agg(t.read(4)).collect()))
    assert maintained == recomputed
    assert not any(g == "c" for g, _, _ in maintained)  # zero-count drop


def test_stats_pruning_keeps_file_on_type_mismatch(spark, tmp_path):
    """ADVICE r3: bounds whose type doesn't compare with the stored stat
    type (numeric bounds on a string column) must keep the file
    conservatively, not raise TypeError."""
    t = _mk(spark, tmp_path, [(1, "a"), (2, "b")])
    assert t.data_paths(where=("v", 0, 10)) == t.data_paths()
    # the row-level filter still applies on the conservatively-kept files
    assert t.read(where=("v", "a", "a")).count() == 1


def test_streaming_foreach_batch_merge_is_exactly_once(spark, tmp_path):
    """foreachBatch MERGE sink: replaying a micro-batch (the failure mode
    foreachBatch exposes — at-least-once delivery) must not double-apply,
    because the batch_id tag rides in the committed manifest."""
    import os

    from mr_spark.sources import load_table
    from mr_spark.streaming import events_file_stream

    from conftest import SF_DIR

    seed = spark.createDataFrame([], "event_id bigint, user_id bigint, event_type string")
    t = SnapshotTable.create(
        spark, str(tmp_path / "sink"), seed, key="event_id", n_buckets=4
    )

    def write_batch(df, batch_id: int):
        t.merge_upsert(df, batch_id=batch_id)
        if batch_id == 0:
            t.merge_upsert(df, batch_id=batch_id)  # simulate a replay

    stream = events_file_stream(
        spark, os.path.join(SF_DIR, "events.parquet"), max_files_per_trigger=1
    )
    q = (
        stream.select("event_id", "user_id", "event_type")
        .writeStream.outputMode("append")
        .foreachBatch(write_batch)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    golden = load_table(spark, SF_DIR, "events").select("event_id").distinct().count()
    assert t.read().count() == golden


def test_merge_rejects_duplicate_source_keys(spark, tmp_path):
    t = _mk(spark, tmp_path, [(1, "a")])
    dup_src = spark.createDataFrame([(2, "x"), (2, "y")], "k bigint, v string")
    with pytest.raises(ValueError, match="multiple rows"):
        t.merge_upsert(dup_src)
    assert t.latest_version() == 1  # nothing committed


def test_stats_based_file_skipping(spark, tmp_path):
    """Manifest footer stats prune files without opening them: three
    appends with disjoint value ranges → a narrow range read touches only
    the files whose [min, max] intersect, and returns exactly the
    in-range rows."""
    t = _mk(spark, tmp_path, [(k, f"v{k}") for k in range(0, 10)], n_buckets=2)
    t.append(
        spark.createDataFrame([(k, f"v{k}") for k in range(100, 110)], "k bigint, v string")
    )
    t.append(
        spark.createDataFrame([(k, f"v{k}") for k in range(200, 210)], "k bigint, v string")
    )
    all_paths = t.data_paths()
    pruned = t.data_paths(where=("k", 100, 109))
    assert len(pruned) < len(all_paths), "stats pruned nothing"
    # pruning is advisory at file granularity, exact after the row filter
    got = sorted(r["k"] for r in t.read(where=("k", 100, 109)).collect())
    assert got == list(range(100, 110))
    # stats follow carried files through a later merge commit
    t.merge_upsert(spark.createDataFrame([(0, "NEW")], "k bigint, v string"))
    got2 = sorted(r["k"] for r in t.read(where=("k", 200, 209)).collect())
    assert got2 == list(range(200, 210))
    m = t._manifest(t.latest_version())
    assert all(
        rel in m["stats"] for rels in m["files"].values() for rel in rels
    )


def test_apply_changes_replicates_and_replay_is_noop(spark, tmp_path):
    """The CDF consumer loop (VERDICT r4 #8): replicate src -> dst by
    applying per-commit feed slices with txn tags; a replayed micro-batch
    and a stale out-of-order batch are both no-ops; dst equals src."""
    from mr_spark.acid import SnapshotTable, replicate

    src = SnapshotTable.create(
        spark,
        str(tmp_path / "src"),
        spark.createDataFrame(
            [(k, f"v{k}") for k in range(8)], "k bigint, v string"
        ),
        key="k",
        n_buckets=2,
    )
    src.merge_upsert(
        spark.createDataFrame([(2, "UP"), (100, "NEW")], "k bigint, v string")
    )  # v2: update + insert
    src.delete_keys(spark.createDataFrame([(0,), (1,)], "k bigint"))  # v3
    src.append(
        spark.createDataFrame([(200, "APP")], "k bigint, v string")
    )  # v4

    dst = SnapshotTable.create(
        spark, str(tmp_path / "dst"), src.read(1), key="k", n_buckets=4
    )
    assert replicate(src, dst) == 4
    assert _rows(dst.read()) == _rows(src.read())
    v_now = dst.latest_version()
    # replay of the last micro-batch: no-op
    dst.apply_changes(src.changes(3, 4), batch_id=4, app_id="replica")
    # stale out-of-order batch: also a no-op (monotonic txn rule)
    dst.apply_changes(src.changes(1, 2), batch_id=2, app_id="replica")
    assert dst.latest_version() == v_now
    assert _rows(dst.read()) == _rows(src.read())
    # resumable: replicate again finds nothing to do
    assert replicate(src, dst) == 4
    assert dst.latest_version() == v_now


def test_apply_changes_rejects_multi_post_rows_per_key(spark, tmp_path):
    """Keyed CDC apply needs one final state per key — a feed carrying
    two post-state rows for one key (duplicate-key append origin) must
    raise, like MERGE's multiple-source-rows rule."""
    import pyspark.sql.functions as F

    t = _mk(spark, tmp_path, [(1, "a")])
    feed = spark.createDataFrame(
        [("insert", 5, "x"), ("insert", 5, "y")],
        "_change_type string, k bigint, v string",
    )
    with pytest.raises(ValueError, match="multiple post-state rows"):
        t.apply_changes(feed)


def test_multi_predicate_file_skipping(spark, tmp_path):
    """A LIST of (col, lo, hi) ranges prunes conjunctively (VERDICT r4
    #4): files disjoint with ANY conjunct are skipped, so a two-column
    read keeps strictly fewer files than either single predicate when
    commits are disjoint on different columns — and the row result equals
    applying both BETWEENs."""
    from mr_spark.acid import SnapshotTable

    # 2x2 grid of commits: k in {0..9 | 100..109} x m in {0..9 | 100..109}
    df0 = spark.createDataFrame(
        [(k, k % 10, f"v{k}") for k in range(0, 10)], "k bigint, m bigint, v string"
    )
    t = SnapshotTable.create(spark, str(tmp_path / "mp"), df0, key="k", n_buckets=2)
    for k0, m0 in [(0, 100), (100, 0), (100, 100)]:
        t.append(
            spark.createDataFrame(
                [(k0 + i, m0 + i, f"v{k0 + i}-{m0 + i}") for i in range(10)],
                "k bigint, m bigint, v string",
            )
        )
    kp, mp = ("k", 0, 9), ("m", 0, 9)
    n_all = len(t.data_paths())
    n_k = len(t.data_paths(where=kp))
    n_m = len(t.data_paths(where=mp))
    n_both = len(t.data_paths(where=[kp, mp]))
    assert n_both < n_k < n_all and n_both < n_m < n_all
    got = sorted(r["k"] for r in t.read(where=[kp, mp]).collect())
    assert got == list(range(0, 10))
    # single-tuple form still works (back-compat): k 0..9 appears in two
    # commits (one per m half), so the key-only read returns both copies
    both_k = sorted(r["k"] for r in t.read(where=kp).collect())
    assert both_k == sorted(list(range(0, 10)) * 2)


def test_delta_log_commit_records_are_o_changes(spark, tmp_path):
    """Round-5 metadata plane (VERDICT r4 #3): v1 is a FULL manifest; every
    later commit's ON-DISK record is a DELTA enumerating only the changed
    buckets' files — a 1-key merge against a 4-bucket table must write a
    record that never mentions the other three buckets, so commit I/O is
    O(changes) at any table size."""
    import json as _json

    t = _mk(spark, tmp_path, [(k, f"v{k}") for k in range(40)], n_buckets=4)
    raw1 = t._read_vfile(1)
    assert not raw1.get("delta") and "files" in raw1  # the chain's root base
    t.merge_upsert(spark.createDataFrame([(0, "NEW")], "k bigint, v string"))
    raw2 = t._read_vfile(2)
    assert raw2.get("delta") and "files" not in raw2
    touched = set(raw2["adds"]) | set(raw2["removes"])
    assert len(touched) == 1  # only key 0's bucket
    # the delta's byte size is bounded by the commit, not the table
    n_table_files = sum(len(r) for r in t._manifest(2)["files"].values())
    n_delta_files = sum(len(v) for v in raw2["adds"].values()) + sum(
        len(v) for v in raw2["removes"].values()
    )
    assert n_delta_files < n_table_files
    # and the reconstruction (fold of the delta) equals what a full
    # manifest would have said: read() returns the merged state
    assert _rows(t.read()) == sorted(
        (k, "NEW" if k == 0 else f"v{k}") for k in range(40)
    )


def test_checkpoint_roundtrip_and_fresh_reader(spark, tmp_path):
    """After `checkpoint_interval` delta commits a parquet checkpoint is
    written; a FRESH instance (cold cache — a new reader process) must
    resolve the latest version from checkpoint ⊕ ≤interval deltas, and its
    reconstruction must be byte-identical to the incremental writer's."""
    t = _mk(spark, tmp_path, [(1, "a"), (2, "b")], n_buckets=2)
    t.checkpoint_interval = 3
    for i in range(5):  # v2..v6: deltas; cp at v4 (chain 3), dist resets
        t.append(spark.createDataFrame([(10 + i, f"x{i}")], "k bigint, v string"))
    cps = t._checkpoint_versions()
    assert cps == [4], cps
    t2 = SnapshotTable(spark, t.path)
    m_fresh = t2._manifest(6)
    assert t2.last_resolution == {
        "base_kind": "checkpoint",
        "base_version": 4,
        "deltas_folded": 2,
    }, t2.last_resolution
    assert m_fresh == t._manifest(6)
    assert _rows(t2.read()) == _rows(t.read())
    # time travel BELOW the checkpoint folds from the full v1 base
    # (resolution probed on the FIRST _manifest call — read() resolves
    # again for data_paths and the second call legitimately hits the cache)
    t3 = SnapshotTable(spark, t.path)
    t3._manifest(3)
    assert t3.last_resolution["base_kind"] == "full"
    assert _rows(t3.read(version=3)) == sorted(
        [(1, "a"), (2, "b"), (10, "x0"), (11, "x1")]
    )
    # the _last_checkpoint pointer exists and names the checkpoint
    import json as _json
    import os as _os

    with open(_os.path.join(t.path, "checkpoints", "_last_checkpoint")) as f:
        assert _json.load(f)["version"] == 4


def test_torn_checkpoint_is_invisible_and_reads_fall_back(spark, tmp_path):
    """A checkpoint whose meta sidecar is missing (crash between the dir
    rename and the meta rename) must be ignored — readers fold the whole
    delta chain from the full v1 base instead; a _tmp_cp_* dir from a
    crash before the rename is collected by the retention-gated vacuum."""
    import os as _os
    import shutil as _shutil

    t = _mk(spark, tmp_path, [(1, "a")], n_buckets=1)
    t.checkpoint_interval = 2
    for i in range(3):  # cp at v3
        t.append(spark.createDataFrame([(10 + i, "x")], "k bigint, v string"))
    assert t._checkpoint_versions() == [3]
    want = _rows(t.read())
    # tear the checkpoint: remove its validity marker
    _os.unlink(_os.path.join(t.path, "checkpoints", "cp_v3.meta.json"))
    t2 = SnapshotTable(spark, t.path)
    t2._manifest(t2.latest_version())
    assert t2.last_resolution["base_kind"] == "full"
    assert _rows(t2.read()) == want
    # crashed checkpointer debris is vacuumable
    _os.makedirs(_os.path.join(t.path, "checkpoints", "_tmp_cp_dead"))
    assert all("_tmp_cp_" not in d for d in t.vacuum())  # retention-gated
    dead = t.vacuum(min_age_seconds=0)
    assert any("_tmp_cp_dead" in d for d in dead)


def test_expire_writes_covering_checkpoint_before_log_cleanup(spark, tmp_path):
    """Deleting old DELTA manifests must not break retained versions:
    expire_versions writes a covering checkpoint at the retained frontier
    first (Delta's checkpoint-before-log-cleanup), so a fresh reader still
    reconstructs the latest version while expired ones raise."""
    import pytest as _pytest

    t = _mk(spark, tmp_path, [(1, "a")], n_buckets=1)
    for i in range(3):  # v2..v4, all deltas (default interval 8: no cp yet)
        t.merge_upsert(
            spark.createDataFrame([(1, f"u{i}")], "k bigint, v string")
        )
    assert t._checkpoint_versions() == []
    expired = t.expire_versions(min_age_seconds=0)
    assert expired == [1, 2, 3]
    # the covering checkpoint landed at the retained frontier (v4)
    assert t._checkpoint_versions() == [4]
    t2 = SnapshotTable(spark, t.path)
    t2._manifest(4)
    assert t2.last_resolution["base_kind"] == "checkpoint"
    assert _rows(t2.read()) == [(1, "u2")]
    with _pytest.raises(FileNotFoundError):
        t2.read(version=2)
    # vacuum reclaims the files only expired versions referenced
    assert t.vacuum(min_age_seconds=0)


def test_bloom_filter_point_lookup_skipping(spark, tmp_path):
    """Per-file bloom indexes (Delta's bloom filter index): values that
    interleave lexically across files defeat [min, max] range pruning, but
    a point lookup's bloom probe skips every file that provably lacks the
    value — no false negatives ever; the index rides in the manifest
    stats so delta manifests, folds and checkpoints carry it."""
    from mr_spark.acid import SnapshotTable

    def df(tags):
        return spark.createDataFrame(
            [(i * 10 + j, t) for j, t in enumerate(tags) for i in [hash(t) % 5]],
            "k bigint, v string",
        )

    # three file sets whose tag ranges all span ~the whole alphabet —
    # range stats keep everything; blooms know better
    t = SnapshotTable.create(
        spark,
        str(tmp_path / "bloomtbl"),
        spark.createDataFrame([(1, "aa"), (2, "zz")], "k bigint, v string"),
        key="k",
        n_buckets=1,
        bloom_cols=["v"],
    )
    t.append(spark.createDataFrame([(3, "ab"), (4, "zy")], "k bigint, v string"))
    t.append(spark.createDataFrame([(5, "ac"), (6, "zx")], "k bigint, v string"))
    pred = ("v", "zx", "zx")  # inside ALL three ranges [aa,zz]/[ab,zy]/[ac,zx]
    n_all = len(t.data_paths())
    n_range_only = len(t.data_paths(where=pred, use_blooms=False))
    n_bloom = len(t.data_paths(where=pred))
    assert n_range_only == n_all  # range stats prune nothing
    assert n_bloom < n_range_only
    assert [r["k"] for r in t.read(where=pred).collect()] == [6]
    # no false negatives: every stored value found via the bloom path
    for k, v in [(1, "aa"), (2, "zz"), (3, "ab"), (4, "zy"), (5, "ac"), (6, "zx")]:
        assert [r["k"] for r in t.read(where=("v", v, v)).collect()] == [k]
    # the index survives copy-on-write + checkpoint + a fresh reader
    t.checkpoint_interval = 2
    t.merge_upsert(spark.createDataFrame([(6, "qq")], "k bigint, v string"))
    t.append(spark.createDataFrame([(7, "ad"), (8, "zw")], "k bigint, v string"))
    assert t._checkpoint_versions(), "expected a checkpoint"
    t2 = SnapshotTable(spark, t.path)
    assert len(t2.data_paths(where=("v", "ab", "ab"))) < len(t2.data_paths())
    assert [r["k"] for r in t2.read(where=("v", "qq", "qq")).collect()] == [6]
    # rewritten files got fresh blooms: 'zx' was replaced by 'qq' in k=6
    assert t2.read(where=("v", "zx", "zx")).count() == 0


def test_compact_zorder_clusters_and_preserves_data(spark, tmp_path):
    """OPTIMIZE ZORDER (compact(zorder_by=...)): scattered appends leave
    every file spanning the full domain of both columns — range stats
    prune NOTHING; the clustered rewrite range-partitions rows along the
    normalized Morton curve so each file covers a narrow (x, y)
    rectangle, and the same two-predicate read then skips files. Data
    must be byte-identical before/after (it is an OPTIMIZE)."""
    from mr_spark.acid import SnapshotTable

    rows = [(k, k % 101, (k * 7) % 103, f"v{k}") for k in range(800)]
    df = spark.createDataFrame(rows, "k bigint, x bigint, y bigint, v string")
    t = SnapshotTable.create(
        spark, str(tmp_path / "zt"), df.where(F.col("k") % 4 == 0), key="k", n_buckets=2
    )
    for i in (1, 2, 3):  # %4 slices scatter x and y across every file
        t.append(df.where(F.col("k") % 4 == i))
    pred = [("x", 0, 24), ("y", 0, 24)]
    v_before = t.latest_version()
    before_rows = _rows_kxy(t.read())
    n_before = len(t.data_paths(v_before, where=pred))
    assert n_before == len(t.data_paths(v_before))  # scattered: no pruning
    v_after = t.compact(zorder_by=("x", "y"))
    assert v_after == v_before + 1
    assert _rows_kxy(t.read()) == before_rows  # OPTIMIZE: data unchanged
    n_after = len(t.data_paths(v_after, where=pred))
    assert n_after < len(t.data_paths(v_after)), "zorder pruned nothing"
    # the quadrant read is exact after the row filter
    got = sorted(
        r["k"]
        for r in t.read(where=pred).collect()
    )
    want = sorted(k for k, x, y, _ in rows if x <= 24 and y <= 24)
    assert got == want


def _rows_kxy(df):
    return sorted((r["k"], r["x"], r["y"], r["v"]) for r in df.collect())


def test_deletion_vector_delete_is_merge_on_read(spark, tmp_path):
    """delete_keys(mode='dv') — Delta's deletion vectors: the commit
    touches ZERO data files (manifest file lists identical), writing only
    a DV sidecar; readers apply it via the row_index anti-join; the
    change feed reports exactly the newly-dead rows; a bucket rewrite
    (MERGE / compact) APPLIES the DVs and purges them."""
    t = _mk(spark, tmp_path, [(k, f"v{k}") for k in range(20)], n_buckets=2)
    m1 = t._manifest(1)
    v2 = t.delete_keys(spark.createDataFrame([(3,), (7,)], "k bigint"), mode="dv")
    m2 = t._manifest(v2)
    assert m2["files"] == m1["files"], "DV delete must rewrite no data file"
    assert m2.get("dvs"), "no deletion vectors recorded"
    assert _rows(t.read()) == sorted(
        (k, f"v{k}") for k in range(20) if k not in (3, 7)
    )
    # time travel: v1 still shows the rows (its manifest has no DVs)
    assert len(_rows(t.read(1))) == 20
    # the feed across the DV-only commit is exactly the deletes
    got = sorted(map(tuple, t.changes(1, v2).collect()))
    assert got == [("delete", 3, "v3"), ("delete", 7, "v7")]
    # deleting again is a no-op on the data (already-dead rows excluded)
    v3 = t.delete_keys(spark.createDataFrame([(3,)], "k bigint"), mode="dv")
    assert _rows(t.read()) == sorted(
        (k, f"v{k}") for k in range(20) if k not in (3, 7)
    )
    assert t.changes(v2, v3).count() == 0  # nothing newly dead
    # accumulate another DV, then MERGE into one of the buckets: the
    # rewritten bucket's files are fresh (no dvs), data stays right
    t.delete_keys(spark.createDataFrame([(11,)], "k bigint"), mode="dv")
    t.merge_upsert(spark.createDataFrame([(0, "NEW")], "k bigint, v string"))
    want = sorted(
        (k, "NEW" if k == 0 else f"v{k}")
        for k in range(20)
        if k not in (3, 7, 11)
    )
    assert _rows(t.read()) == want
    # compact purges every remaining DV (merge-on-read -> pure files)
    v_final = t.compact()
    assert not t._manifest(v_final).get("dvs")
    assert _rows(t.read()) == want
    # DV sidecars are manifest-referenced: vacuum must NOT collect them
    # while a manifest needs them; after expiring history they go
    live_before = _rows(t.read())
    t.vacuum(min_age_seconds=0)
    assert _rows(t.read()) == live_before
    t.expire_versions(min_age_seconds=0)
    dead = t.vacuum(min_age_seconds=0)
    assert any("dv_" in d for d in dead), "expired DV sidecars not reclaimed"
    assert _rows(t.read()) == live_before


def test_deletion_vectors_survive_checkpoint_and_fresh_reader(spark, tmp_path):
    """DV maps ride the delta log (dv_adds) and the parquet checkpoint —
    a fresh reader resolving from either base must still filter."""
    t = _mk(spark, tmp_path, [(k, f"v{k}") for k in range(10)], n_buckets=1)
    t.checkpoint_interval = 2
    t.delete_keys(spark.createDataFrame([(4,)], "k bigint"), mode="dv")
    t.append(spark.createDataFrame([(100, "x")], "k bigint, v string"))  # cp here
    assert t._checkpoint_versions(), "expected a checkpoint"
    want = sorted(
        [(k, f"v{k}") for k in range(10) if k != 4] + [(100, "x")]
    )
    t2 = SnapshotTable(spark, t.path)
    t2._manifest(t2.latest_version())
    assert t2.last_resolution["base_kind"] == "checkpoint"
    assert _rows(t2.read()) == want
    # and via the pure delta-fold path (torn checkpoint)
    os.unlink(
        os.path.join(t.path, "checkpoints", f"cp_v{t._checkpoint_versions()[0]}.meta.json")
    )
    t3 = SnapshotTable(spark, t.path)
    assert _rows(t3.read()) == want


def test_check_constraints_enforced_on_every_write_path(spark, tmp_path):
    """CHECK constraints (Delta's ADD CONSTRAINT): a metadata-only commit
    registers a SQL predicate; append/MERGE/CDC-apply all reject
    violating rows with ConstraintViolation and commit NOTHING; adding a
    constraint existing data violates is rejected; constraints survive
    delta folds, checkpoints and fresh readers; NULL in a constrained
    column counts as a violation (CHECK must evaluate to true)."""
    from mr_spark.acid import ConstraintViolation

    t = _mk(spark, tmp_path, [(1, "a"), (2, "b")], n_buckets=2)
    files_before = t._manifest(1)["files"]
    v2 = t.add_constraint("k_positive", "k > 0")
    assert t._manifest(v2)["files"] == files_before  # metadata-only
    # a constraint existing data violates cannot be added
    with pytest.raises(ConstraintViolation, match="existing rows"):
        t.add_constraint("impossible", "k > 100")
    # append: valid passes, violating rejected without a commit
    t.append(spark.createDataFrame([(5, "e")], "k bigint, v string"))
    v_now = t.latest_version()
    with pytest.raises(ConstraintViolation, match="k_positive"):
        t.append(spark.createDataFrame([(-1, "bad")], "k bigint, v string"))
    assert t.latest_version() == v_now
    # MERGE: same
    with pytest.raises(ConstraintViolation):
        t.merge_upsert(spark.createDataFrame([(0, "z")], "k bigint, v string"))
    assert t.latest_version() == v_now
    # CDC apply: same
    feed = spark.createDataFrame(
        [("insert", -7, "x")], "_change_type string, k bigint, v string"
    )
    with pytest.raises(ConstraintViolation):
        t.apply_changes(feed)
    assert t.latest_version() == v_now
    # NULL in the constrained column violates (CHECK must be true)
    with pytest.raises(ConstraintViolation):
        t.append(spark.createDataFrame([(None, "n")], "k bigint, v string"))
    # survives checkpoints + a fresh reader
    t.checkpoint_interval = 2
    t.append(spark.createDataFrame([(6, "f")], "k bigint, v string"))
    t.append(spark.createDataFrame([(7, "g")], "k bigint, v string"))
    assert t._checkpoint_versions(), "expected a checkpoint"
    t2 = SnapshotTable(spark, t.path)
    with pytest.raises(ConstraintViolation):
        t2.append(spark.createDataFrame([(-2, "bad")], "k bigint, v string"))
    # drop lifts enforcement
    t2.drop_constraint("k_positive")
    t2.append(spark.createDataFrame([(-3, "ok-now")], "k bigint, v string"))
    assert (-3, "ok-now") in _rows(t2.read())


def test_restore_is_metadata_only_and_preserves_history(spark, tmp_path):
    """RESTORE commits a new version equal to an older one with ZERO data
    movement; rolled-back versions stay time-travelable; txn tags carry
    forward (replay protection survives the rollback)."""
    t = _mk(spark, tmp_path, [(1, "a"), (2, "b"), (3, "c")])
    t.merge_upsert(
        spark.createDataFrame([(2, "B"), (9, "Z")], "k bigint, v string"),
        batch_id=5,
        app_id="writer1",
    )
    t.delete_keys(spark.createDataFrame([(1,)], "k bigint"))
    v1_rows = _rows(t.read(1))
    n_data_files = len(os.listdir(os.path.join(t.path, "data")))
    v = t.restore(1)
    assert v == 4
    # metadata-only: not one data file written
    assert len(os.listdir(os.path.join(t.path, "data"))) == n_data_files
    assert _rows(t.read()) == v1_rows
    assert t._manifest(4)["files"] == t._manifest(1)["files"]
    # history intact: the rolled-back states still read
    assert (1, "a") not in _rows(t.read(3))
    assert (2, "B") in _rows(t.read(2))
    # the restore is an ordinary commit: the change feed explains it
    feed = {(r["_change_type"], r["k"], r["v"]) for r in t.changes(3, 4).collect()}
    assert ("insert", 1, "a") in feed  # the deleted row comes back
    assert ("delete", 9, "Z") in feed  # the merge's insert rolls away
    # txn map carried FORWARD: writer1's batch 5 still recorded, so a
    # replayed micro-batch from before the restore is a no-op
    v_now = t.latest_version()
    t.merge_upsert(
        spark.createDataFrame([(2, "BOOM")], "k bigint, v string"),
        batch_id=5,
        app_id="writer1",
    )
    assert t.latest_version() == v_now
    # out-of-range targets raise
    with pytest.raises(ValueError, match="outside committed range"):
        t.restore(99)


def test_restore_past_vacuumed_files_raises(spark, tmp_path):
    """A restore target whose files were reclaimed must fail loudly, not
    commit a manifest pointing at nothing (Delta errors identically)."""
    t = _mk(spark, tmp_path, [(1, "a"), (2, "b")], n_buckets=1)
    t.merge_upsert(spark.createDataFrame([(1, "A")], "k bigint, v string"))
    # v1's single bucket file was superseded by the merge rewrite —
    # simulate a vacuum past the retention window taking it
    only_v1 = set(t._manifest(1)["files"]["0"]) - set(
        t._manifest(2)["files"]["0"]
    )
    for rel in only_v1:
        os.unlink(os.path.join(t.path, rel))
    with pytest.raises(FileNotFoundError, match="vacuumed"):
        t.restore(1)
    assert t.latest_version() == 2  # nothing committed


def test_shallow_clone_zero_copy_then_diverges(spark, tmp_path):
    """CLONE copies metadata only (zero data files), reads equal to the
    source, then diverges: clone writes land in the clone's dir and
    localize only rewritten buckets; the source is never touched."""
    t = _mk(spark, tmp_path, [(1, "a"), (2, "b"), (3, "c"), (4, "d")])
    t.merge_upsert(spark.createDataFrame([(2, "B")], "k bigint, v string"))
    src_rows = _rows(t.read())
    c = t.clone(str(tmp_path / "clone"))
    # zero copy: the clone's own data dir is EMPTY at v1
    assert os.listdir(os.path.join(c.path, "data")) == []
    assert _rows(c.read()) == src_rows
    # a FRESH reader of the clone path resolves the absolute references
    fresh = SnapshotTable(spark, c.path)
    assert _rows(fresh.read()) == src_rows
    # divergence: write to the clone — source version/rows unchanged
    c.merge_upsert(spark.createDataFrame([(3, "LOCAL"), (7, "N")], "k bigint, v string"))
    assert t.latest_version() == 2
    assert _rows(t.read()) == src_rows
    assert (3, "LOCAL") in _rows(c.read()) and (7, "N") in _rows(c.read())
    # the clone localized SOMETHING (rewritten buckets) but only what it
    # touched: untouched buckets still reference the source absolutely
    local = os.listdir(os.path.join(c.path, "data"))
    assert local, "clone merge wrote no local files"
    entries = [
        e for rels in c._manifest(c.latest_version())["files"].values() for e in rels
    ]
    assert any(os.path.isabs(e) for e in entries), "all buckets localized?"
    # writes to the SOURCE after cloning don't leak into the clone
    t.merge_upsert(spark.createDataFrame([(4, "SRC")], "k bigint, v string"))
    assert (4, "SRC") not in _rows(c.read())
    # clone's vacuum never reaches across to source files
    assert c.vacuum(min_age_seconds=0) == []
    assert _rows(t.read(2)) == src_rows


def test_shallow_clone_carries_deletion_vectors(spark, tmp_path):
    """A clone of a table with merge-on-read DVs must keep filtering the
    dead rows through its absolute-path DV references."""
    t = _mk(spark, tmp_path, [(1, "a"), (2, "b"), (3, "c")])
    t.delete_keys(spark.createDataFrame([(2,)], "k bigint"), mode="dv")
    c = t.clone(str(tmp_path / "dvclone"))
    assert os.listdir(os.path.join(c.path, "data")) == []
    assert _rows(c.read()) == [(1, "a"), (3, "c")]


def test_deep_clone_survives_source_deletion(spark, tmp_path):
    """clone(deep=True) localizes EVERY reference in one commit: the
    manifest holds only local relative entries, op metrics record the
    localization, and deleting the whole SOURCE table afterwards
    cannot break the clone — the shallow caveat does not apply. DVs
    copy too and keep filtering (basename references preserved)."""
    import shutil as sh

    t = _mk(spark, tmp_path, [(k, f"v{k}") for k in range(20)])
    t.delete_keys(spark.createDataFrame([(2,)], "k bigint"), mode="dv")
    expected = _rows(t.read())
    c = t.clone(str(tmp_path / "deep"), deep=True)
    m = c._manifest(1)
    entries = [e for rels in m["files"].values() for e in rels] + [
        d for lst in m.get("dvs", {}).values() for d in lst
    ]
    assert entries and all(not os.path.isabs(e) for e in entries)
    h = c.history(limit=1)[0]
    assert h["operation"] == "CLONE" and h["params"]["deep"] is True
    mx = h["params"]["metrics"]
    assert mx["files_localized"] == len(set(entries))
    assert mx["bytes_localized"] > 0
    # stats carry under the local keys (pruning works on the clone)
    assert set(m["stats"]) >= set(entries) - set(
        d for lst in m.get("dvs", {}).values() for d in lst
    )
    # the source dies entirely; the deep clone is self-contained
    sh.rmtree(t.path)
    fresh = SnapshotTable(spark, c.path)
    assert _rows(fresh.read()) == expected
    assert (2, "v2") not in _rows(fresh.read())  # DV still filters
    # and it is a normal table from here: writes work
    fresh.merge_upsert(spark.createDataFrame([(100, "n")], "k bigint, v string"))
    assert (100, "n") in _rows(fresh.read())


def test_deep_clone_of_shallow_clone_localizes_partitioned(spark, tmp_path):
    """Deep-cloning a SHALLOW clone re-roots its absolute references,
    and partition directories survive the localization."""
    import shutil as sh

    df = spark.createDataFrame(
        [(k, "even" if k % 2 == 0 else "odd") for k in range(10)],
        "k bigint, part string",
    )
    t = SnapshotTable.create(
        spark, str(tmp_path / "psrc"), df, key="k", n_buckets=2,
        partition_by="part",
    )
    shallow = t.clone(str(tmp_path / "pshallow"))
    deep = shallow.clone(str(tmp_path / "pdeep"), deep=True)
    entries = [
        e
        for rels in deep._manifest(1)["files"].values()
        for e in rels
    ]
    assert all(not os.path.isabs(e) for e in entries)
    assert any("part=even" in e for e in entries)  # partition dirs kept
    sh.rmtree(t.path)
    sh.rmtree(shallow.path)
    got = sorted((r["k"], r["part"]) for r in deep.read().collect())
    assert got == [(k, "even" if k % 2 == 0 else "odd") for k in range(10)]
    # partition pruning engages on the localized layout
    assert deep.read(where=("part", "even", "even")).count() == 5
    assert deep.last_partition_prune is not None


def test_copy_into_is_file_level_idempotent(spark, tmp_path):
    """COPY INTO loads each source file exactly once across overlapping
    re-runs; a fully-replayed call commits nothing; the ledger survives
    delta manifests, checkpoints and fresh readers."""
    src = tmp_path / "landing"
    df = spark.createDataFrame(
        [(i, f"v{i}") for i in range(40)], "k bigint, v string"
    )
    df.where("k % 2 = 0").repartition(2).write.parquet(str(src / "b1"))
    df.where("k % 2 = 1").repartition(2).write.parquet(str(src / "b2"))
    batch1 = sorted(
        str(p) for p in (src / "b1").glob("*.parquet")
    )
    batch2 = sorted(
        str(p) for p in (src / "b2").glob("*.parquet")
    )
    t = SnapshotTable.create(
        spark, str(tmp_path / "tbl"), df.limit(0), key="k", n_buckets=2
    )
    v, loaded, skipped = t.copy_into(batch1)
    assert (loaded, skipped) == (len(batch1), 0)
    # overlapping re-list: only the new files load
    v, loaded, skipped = t.copy_into(batch1 + batch2)
    assert (loaded, skipped) == (len(batch2), len(batch1))
    assert _rows(t.read()) == sorted((i, f"v{i}") for i in range(40))
    # full replay: NOTHING commits
    v_before = t.latest_version()
    v, loaded, skipped = t.copy_into(batch1 + batch2)
    assert (v, loaded, skipped) == (v_before, 0, len(batch1) + len(batch2))
    assert t.latest_version() == v_before
    # the commit record for the second load is a DELTA carrying only the
    # newly-ingested entries — the ledger never re-serializes in full
    raw = t._read_vfile(3)
    assert raw.get("delta") and sorted(raw["ledger_adds"]) == [
        os.path.abspath(p) for p in batch2
    ]
    # fresh reader (and checkpointed table) still skips
    t.checkpoint_interval = 2
    t.append(spark.createDataFrame([(100, "x")], "k bigint, v string"))
    assert t._checkpoint_versions(), "expected a checkpoint"
    fresh = SnapshotTable(spark, t.path)
    v, loaded, skipped = fresh.copy_into(batch1)
    assert (loaded, skipped) == (0, len(batch1))


def test_copy_into_respects_constraints_and_schema(spark, tmp_path):
    """COPY INTO validates CHECK constraints and reads under the table
    schema (extra source columns ignored, missing ones NULL)."""
    src = tmp_path / "landing2"
    good = spark.createDataFrame([(1, "a", 9.9)], "k bigint, v string, extra double")
    good.coalesce(1).write.parquet(str(src / "good"))
    bad = spark.createDataFrame([(-5, "neg")], "k bigint, v string")
    bad.coalesce(1).write.parquet(str(src / "bad"))
    base = spark.createDataFrame([(10, "z")], "k bigint, v string")
    t = SnapshotTable.create(
        spark, str(tmp_path / "tbl2"), base, key="k", n_buckets=2
    )
    t.add_constraint("k_positive", "k > 0")
    gfiles = sorted(str(p) for p in (src / "good").glob("*.parquet"))
    bfiles = sorted(str(p) for p in (src / "bad").glob("*.parquet"))
    t.copy_into(gfiles)  # extra column silently dropped
    assert (1, "a") in _rows(t.read())
    v_now = t.latest_version()
    with pytest.raises(ConstraintViolation):
        t.copy_into(bfiles)
    assert t.latest_version() == v_now


def test_rebucket_evolves_layout_and_narrows_cow(spark, tmp_path):
    """Bucket-spec evolution: data identical before/after, old versions
    keep their old layout, the new count rides delta manifests and
    checkpoints, the change feed across the rewrite is EMPTY, and a
    narrow merge afterwards rewrites a 1/new-count bucket."""
    rows = [(i, f"v{i}") for i in range(64)]
    t = _mk(spark, tmp_path, rows, n_buckets=2)
    v = t.rebucket(8)
    assert v == 2
    assert t._manifest(2)["n_buckets"] == 8 and t._manifest(1)["n_buckets"] == 2
    assert _rows(t.read()) == sorted(rows)          # data unchanged
    assert _rows(t.read(1)) == sorted(rows)         # old version readable
    assert len(t._manifest(2)["files"]) == 8        # real fan-out
    assert t.changes(1, 2).count() == 0             # movement, not change
    # no-op when the count already matches
    assert t.rebucket(8) == 2
    # the evolved count survives delta folds + a fresh reader
    raw = t._read_vfile(2)
    assert raw.get("delta") and raw["n_buckets"] == 8
    fresh = SnapshotTable(spark, t.path)
    assert fresh._manifest(2)["n_buckets"] == 8
    # narrow merge now touches 1 of 8 buckets, not 1 of 2
    m2 = t._manifest(2)
    t.merge_upsert(spark.createDataFrame([(3, "NEW")], "k bigint, v string"))
    m3 = t._manifest(3)
    changed = [b for b in m3["files"] if m3["files"][b] != m2["files"].get(b)]
    assert len(changed) == 1
    # DVs are applied (not carried) through the rewrite
    t.delete_keys(spark.createDataFrame([(5,)], "k bigint"), mode="dv")
    assert t._manifest(t.latest_version()).get("dvs")
    t.rebucket(4)
    m_last = t._manifest(t.latest_version())
    assert not m_last.get("dvs")
    assert (5, "v5") not in _rows(t.read())


def test_copy_into_dedupes_within_one_call(spark, tmp_path):
    """A listing that yields the same file twice in ONE call (overlapping
    globs, relative + absolute forms of one path) must load it exactly
    once — the within-call half of the exactly-once-per-file contract."""
    src = tmp_path / "landing3"
    df = spark.createDataFrame([(1, "a"), (2, "b")], "k bigint, v string")
    df.coalesce(1).write.parquet(str(src))
    f = next(str(p) for p in src.glob("*.parquet"))
    rel = os.path.relpath(f)
    t = SnapshotTable.create(
        spark, str(tmp_path / "tbl"), df.limit(0), key="k", n_buckets=2
    )
    v, loaded, skipped = t.copy_into([f, f, rel])  # dup + mixed forms
    assert loaded == 1
    assert _rows(t.read()) == [(1, "a"), (2, "b")]  # no double rows
    m = t._manifest(v)
    assert m["copy_ledger"] == [os.path.abspath(f)]  # one ledger entry


def test_rename_column_is_metadata_only(spark, tmp_path):
    """RENAME COLUMN: zero data movement, old versions keep old names,
    every path (read/stats-pruning/merge/feed/fresh reader/checkpoint)
    speaks the new logical name while files keep the physical one."""
    t = _mk(spark, tmp_path, [(1, "a"), (2, "b"), (3, "c")], n_buckets=2)
    t.merge_upsert(spark.createDataFrame([(2, "B")], "k bigint, v string"))
    n_files = len(os.listdir(os.path.join(t.path, "data")))
    v = t.rename_column("v", "val")
    assert v == 3
    assert t._manifest(3)["files"] == t._manifest(2)["files"]  # no rewrite
    assert len(os.listdir(os.path.join(t.path, "data"))) == n_files
    assert t.read().columns == ["k", "val"]
    assert sorted((r["k"], r["val"]) for r in t.read().collect()) == [
        (1, "a"), (2, "B"), (3, "c"),
    ]
    assert t.read(2).columns == ["k", "v"]  # time travel keeps old name
    # writes speak the NEW name; the physical in-file name stays "v"
    t.merge_upsert(spark.createDataFrame([(9, "Z")], "k bigint, val string"))
    assert (9, "Z") in sorted((r["k"], r["val"]) for r in t.read().collect())
    # the feed across the post-rename commit uses the new logical name
    feed = t.changes(3, 4)
    assert "val" in feed.columns
    # stats pruning maps the logical predicate to the physical stats key
    pruned = t.data_paths(where=("k", 999, 1000))
    assert len(pruned) < len(t.data_paths())
    # fresh reader + checkpoint carry the mapping
    t.checkpoint_interval = 2
    t.append(spark.createDataFrame([(20, "x")], "k bigint, val string"))
    t.append(spark.createDataFrame([(21, "y")], "k bigint, val string"))
    assert t._checkpoint_versions()
    fresh = SnapshotTable(spark, t.path)
    assert fresh.read().columns == ["k", "val"]
    assert (9, "Z") in sorted((r["k"], r["val"]) for r in fresh.read().collect())


def test_rename_key_and_guards(spark, tmp_path):
    """Renaming the bucket key rebinds the manifest key; constrained
    columns refuse rename/drop until the constraint is dropped."""
    t = _mk(spark, tmp_path, [(1, "a"), (2, "b")], n_buckets=2)
    t.rename_column("k", "id")
    assert t._manifest(t.latest_version())["key"] == "id"
    t.merge_upsert(spark.createDataFrame([(2, "B"), (5, "e")], "id bigint, v string"))
    assert sorted((r["id"], r["v"]) for r in t.read().collect()) == [
        (1, "a"), (2, "B"), (5, "e"),
    ]
    t.add_constraint("v_nonempty", "length(v) > 0")
    with pytest.raises(ValueError, match="constraint"):
        t.rename_column("v", "w")
    with pytest.raises(ValueError, match="constraint"):
        t.drop_column("v")
    with pytest.raises(ValueError, match="key"):
        t.drop_column("id")
    t.drop_constraint("v_nonempty")
    t.rename_column("v", "w")  # now allowed
    assert t.read().columns == ["id", "w"]


def test_drop_column_tombstone_prevents_resurrection(spark, tmp_path):
    """DROP COLUMN is metadata-only; re-adding the same logical name via
    schema evolution must NOT resurrect the dropped bytes still sitting
    in un-rewritten files — the tombstoned physical slot forces a fresh
    physical name."""
    rows = [(1, "a", 10), (2, "b", 20)]
    df = spark.createDataFrame(rows, "k bigint, v string, extra bigint")
    t = SnapshotTable.create(
        spark, str(tmp_path / "tbl"), df, key="k", n_buckets=2
    )
    v = t.drop_column("extra")
    assert t._manifest(v)["files"] == t._manifest(1)["files"]  # no rewrite
    assert t.read().columns == ["k", "v"]
    # re-add "extra" with different values for a new row only
    t.append(
        spark.createDataFrame([(3, "c", 99)], "k bigint, v string, extra bigint"),
        merge_schema=True,
    )
    got = {r["k"]: r["extra"] for r in t.read().collect()}
    # old rows: NULL (their files' old "extra" bytes must NOT come back)
    assert got == {1: None, 2: None, 3: 99}
    # physical name diverged from the logical
    m = t._manifest(t.latest_version())
    assert m.get("colmap", {}).get("extra", "extra") != "extra"
    # survives a fresh reader
    fresh = SnapshotTable(spark, t.path)
    got2 = {r["k"]: r["extra"] for r in fresh.read().collect()}
    assert got2 == got


def test_rename_flows_through_batch_source_and_cdf_stream(spark, tmp_path):
    """The batch DataSource and the streaming CDF source must map
    logical names to the physical in-file names after a rename."""
    from pyspark.sql import functions as F

    from mr_spark.sources.snapshot_source import register as reg_batch

    t = _mk(spark, tmp_path, [(1, "a"), (2, "b")], n_buckets=2)
    t.rename_column("v", "val")
    t.merge_upsert(spark.createDataFrame([(2, "B")], "k bigint, val string"))
    reg_batch(spark)
    out = spark.read.format("snapshot").option("path", t.path).load()
    assert out.columns == ["k", "val"]
    assert sorted((r["k"], r["val"]) for r in out.collect()) == [
        (1, "a"), (2, "B"),
    ]  # pre-rename file contributes "a" under the new name — no NULLs
    from mr_spark.sources.cdf_stream import register as reg_cdf
    from mr_spark.streaming import run_to_completion

    reg_cdf(spark)
    feed = (
        spark.readStream.format("snapshot_cdf")
        .option("path", t.path)
        .option("start_version", 1)
        .load()
    )
    res = run_to_completion(
        feed.groupBy("_change_type").agg(
            F.count("*").alias("n"),
            F.count("val").alias("n_val"),  # non-null val per change row
        ),
        name="mrspark_cdf_rename_test",
        output_mode="complete",
        state_partitions=2,
    )
    got = {r["_change_type"]: (r["n"], r["n_val"]) for r in res.collect()}
    # v2→v3 merge: update of k=2 — both images carry a NON-NULL val read
    # from the physical column
    assert got == {"update_preimage": (1, 1), "update_postimage": (1, 1)}


def test_compact_zorder_three_columns(spark, tmp_path):
    """OPTIMIZE ZORDER over THREE columns: data unchanged, and a
    3-conjunct octant read prunes strictly after clustering (Delta's
    ZORDER takes any number of columns; ours must too)."""
    rows = [
        (i, (i * 7) % 64, (i * 13) % 64, (i * 29) % 64) for i in range(512)
    ]
    df = spark.createDataFrame(rows, "k bigint, x bigint, y bigint, z bigint")
    t = SnapshotTable.create(
        spark, str(tmp_path / "tbl"), df.where("k % 4 = 0"), key="k", n_buckets=2
    )
    for i in (1, 2, 3):  # scattered appends: every file spans everything
        t.append(df.where(f"k % 4 = {i}"))
    before = sorted(map(tuple, t.read().collect()))
    preds = [("x", 0, 15), ("y", 0, 15), ("z", 0, 15)]
    v_pre = t.latest_version()
    assert len(t.data_paths(v_pre, where=preds)) == len(t.data_paths(v_pre))
    t.compact(zorder_by=("x", "y", "z"), files_per_bucket=8)
    assert sorted(map(tuple, t.read().collect())) == before  # data unchanged
    v = t.latest_version()
    assert len(t.data_paths(v, where=preds)) < len(t.data_paths(v))


def test_copy_into_csv_landing_zone(spark, tmp_path):
    """COPY INTO from a CSV landing zone: explicit table-schema read
    (never inference), same ledger idempotence as parquet."""
    src = tmp_path / "csv_land"
    df = spark.createDataFrame([(i, f"v{i}") for i in range(10)], "k bigint, v string")
    df.coalesce(1).write.option("header", "true").csv(str(src))
    files = sorted(str(p) for p in src.glob("*.csv"))
    t = SnapshotTable.create(
        spark, str(tmp_path / "tbl2"), df.limit(0), key="k", n_buckets=2
    )
    v, loaded, skipped = t.copy_into(
        files, source_format="csv", options={"header": "true"}
    )
    assert (loaded, skipped) == (len(files), 0)
    assert _rows(t.read()) == sorted((i, f"v{i}") for i in range(10))
    v2, loaded, skipped = t.copy_into(
        files, source_format="csv", options={"header": "true"}
    )
    assert (v2, loaded, skipped) == (v, 0, len(files))


# ---- multi-clause MERGE ---------------------------------------------------


def _mk_merge_table(spark, tmp_path, name="mtbl"):
    df = spark.createDataFrame(
        [(1, 10, "a"), (2, 20, "b"), (3, 30, "c"), (4, 40, "d")],
        "k bigint, qty bigint, tag string",
    )
    return SnapshotTable.create(
        spark, str(tmp_path / name), df, key="k", n_buckets=4
    )


def _mrows(df):
    return sorted((r["k"], r["qty"], r["tag"]) for r in df.collect())


def test_merge_clauses_update_delete_insert_conditions(spark, tmp_path):
    """All three classic clause types with conditions, one atomic commit:
    matched+cond -> update expr over s and t; matched+delete cond ->
    gone; unmatched source + cond -> insert; unmatched source without
    cond -> dropped; untouched matched rows keep."""
    t = _mk_merge_table(spark, tmp_path)
    src = spark.createDataFrame(
        [(1, 5, "A"), (2, 99, "B"), (3, 1, "C"), (8, 80, "H"), (9, 90, "I")],
        "k bigint, qty bigint, tag string",
    )
    v = t.merge(
        src,
        matched_update={"qty": "t.qty + s.qty", "tag": "s.tag"},
        matched_update_condition="s.qty < 50",
        matched_delete=True,
        matched_delete_condition="s.qty = 99",
        not_matched_insert="*",
        not_matched_insert_condition="s.k % 2 = 0",
    )
    assert v == 2
    # k=1: update cond holds (5<50)  -> qty 15, tag A
    # k=2: update cond fails, delete cond holds (99) -> gone
    # k=3: update cond holds (1<50)  -> qty 31, tag C
    # k=4: matched?? no — k=4 not in source -> target-only, no by-source
    #      clause -> keep
    # k=8: insert cond holds (even)  -> inserted
    # k=9: insert cond fails         -> dropped
    assert _mrows(t.read()) == [
        (1, 15, "A"),
        (3, 31, "C"),
        (4, 40, "d"),
        (8, 80, "H"),
    ]


def test_merge_clause_order_update_before_delete(spark, tmp_path):
    """A matched row satisfying BOTH conditions takes the UPDATE clause —
    clause order is fixed (update first), like Delta's in-order clause
    evaluation."""
    t = _mk_merge_table(spark, tmp_path)
    src = spark.createDataFrame([(1, 100, "X")], "k bigint, qty bigint, tag string")
    t.merge(
        src,
        matched_update={"qty": "s.qty"},
        matched_update_condition="s.qty > 0",
        matched_delete=True,
        matched_delete_condition="s.qty > 0",
    )
    assert _mrows(t.read()) == [
        (1, 100, "a"),
        (2, 20, "b"),
        (3, 30, "c"),
        (4, 40, "d"),
    ]


def test_merge_by_source_clauses(spark, tmp_path):
    """whenNotMatchedBySource: target-only rows try UPDATE then DELETE;
    matched rows are untouched when no matched clause is given."""
    t = _mk_merge_table(spark, tmp_path)
    src = spark.createDataFrame([(1, 0, "z")], "k bigint, qty bigint, tag string")
    t.merge(
        src,
        not_matched_by_source_update={"tag": "concat(t.tag, '!')"},
        not_matched_by_source_update_condition="t.qty <= 20",
        not_matched_by_source_delete=True,
        not_matched_by_source_delete_condition="t.qty = 40",
    )
    # k=1 matched: no matched clause -> keep; k=2 qty20 -> tag b!;
    # k=3 qty30: neither by-source cond -> keep; k=4 qty40 -> deleted
    assert _mrows(t.read()) == [
        (1, 10, "a"),
        (2, 20, "b!"),
        (3, 30, "c"),
    ]


def test_merge_insert_all_null_fills_missing_source_columns(spark, tmp_path):
    """insert-all from a source missing a table column writes NULL there;
    update-all keeps the target's value for missing source columns."""
    t = _mk_merge_table(spark, tmp_path)
    src = spark.createDataFrame([(1, 77), (9, 99)], "k bigint, qty bigint")
    t.merge(src, matched_update="*", not_matched_insert="*")
    assert _mrows(t.read()) == [
        (1, 77, "a"),  # update-all: tag not in source -> keeps target's
        (2, 20, "b"),
        (3, 30, "c"),
        (4, 40, "d"),
        (9, 99, None),  # insert-all: tag not in source -> NULL
    ]


def test_merge_bucket_pruning_without_by_source(spark, tmp_path):
    """Without by-source clauses only buckets holding source keys
    rewrite; with them, every bucket must be examined (the predicate is
    'no source row matches')."""
    t = _mk_merge_table(spark, tmp_path)
    m1 = t._manifest(t.latest_version())
    src = spark.createDataFrame([(1, 0, "u")], "k bigint, qty bigint, tag string")
    t.merge(src, matched_update={"qty": "s.qty"})
    m2 = t._manifest(t.latest_version())
    carried = [b for b in m1["files"] if m2["files"].get(b) == m1["files"][b]]
    assert carried, "a 1-key merge should carry untouched buckets by reference"
    t.merge(src, matched_update={"qty": "s.qty + 1"}, not_matched_by_source_delete=True,
            not_matched_by_source_delete_condition="false")
    m3 = t._manifest(t.latest_version())
    assert all(
        m3["files"].get(b) != m2["files"][b] for b in m2["files"] if m2["files"][b]
    ), "by-source clauses must rewrite every non-empty bucket"
    assert _mrows(t.read()) == [
        (1, 1, "a"),
        (2, 20, "b"),
        (3, 30, "c"),
        (4, 40, "d"),
    ]


def test_merge_guards(spark, tmp_path):
    t = _mk_merge_table(spark, tmp_path)
    src = spark.createDataFrame([(1, 0, "u")], "k bigint, qty bigint, tag string")
    with pytest.raises(ValueError, match="at least one WHEN clause"):
        t.merge(src)
    with pytest.raises(ValueError, match="bucket key"):
        t.merge(src, matched_update={"k": "s.k + 1000"})
    with pytest.raises(ValueError, match="not in the table schema"):
        t.merge(src, matched_update={"nope": "1"})
    dup = spark.createDataFrame(
        [(1, 0, "u"), (1, 1, "v")], "k bigint, qty bigint, tag string"
    )
    with pytest.raises(ValueError, match="multiple rows"):
        t.merge(dup, matched_update="*")


def test_merge_replay_tag_skips(spark, tmp_path):
    t = _mk_merge_table(spark, tmp_path)
    src = spark.createDataFrame([(1, 1, "u")], "k bigint, qty bigint, tag string")
    v = t.merge(src, matched_update={"qty": "t.qty + s.qty"},
                batch_id=7, app_id="merge_writer")
    v2 = t.merge(src, matched_update={"qty": "t.qty + s.qty"},
                 batch_id=7, app_id="merge_writer")
    assert v2 == v  # replay: no double-apply
    assert _mrows(t.read())[0] == (1, 11, "a")


def test_merge_respects_constraints_and_feeds_cdf(spark, tmp_path):
    """A merge whose updated rows violate a CHECK constraint commits
    NOTHING; the change feed across a multi-clause merge classifies
    update/insert/delete like any other commit."""
    t = _mk_merge_table(spark, tmp_path)
    t.add_constraint("qty_pos", "qty >= 0")
    src = spark.createDataFrame([(1, -5, "u")], "k bigint, qty bigint, tag string")
    base = t.latest_version()
    with pytest.raises(ConstraintViolation):
        t.merge(src, matched_update={"qty": "s.qty"})
    assert t.latest_version() == base
    ok = spark.createDataFrame(
        [(1, 5, "u"), (9, 9, "i")], "k bigint, qty bigint, tag string"
    )
    t.merge(ok, matched_update={"qty": "s.qty"}, not_matched_insert="*",
            matched_delete=True, matched_delete_condition="false")
    feed = t.changes(base)
    got = {
        (r["_change_type"], r["k"]) for r in feed.collect()
    }
    assert got == {
        ("update_preimage", 1),
        ("update_postimage", 1),
        ("insert", 9),
    }


def test_history_records_operations_newest_first(spark, tmp_path):
    """DESCRIBE HISTORY: every commit carries its operation descriptor
    (Delta's commitInfo), newest first, with op-specific params; the
    walk is bounded by log retention — expired records end the history
    (the versions still READ via checkpoints, their op info is gone with
    the log, exactly Delta)."""
    t = _mk(spark, tmp_path, [(1, "a"), (2, "b")])
    t.append(spark.createDataFrame([(3, "c")], "k bigint, v string"))
    t.merge_upsert(spark.createDataFrame([(1, "A")], "k bigint, v string"))
    t.merge(
        spark.createDataFrame([(2, "B")], "k bigint, v string"),
        matched_delete=True,
    )
    h = t.history()
    assert [(e["version"], e["operation"]) for e in h] == [
        (4, "MERGE"),
        (3, "MERGE"),
        (2, "APPEND"),
        (1, "CREATE"),
    ]
    assert h[0]["params"]["clauses"] == ["matched_delete"]
    assert h[1]["params"]["clauses"] == ["upsert"]
    assert all(e["timestamp"] > 0 for e in h)
    assert len(t.history(limit=2)) == 2
    # retention-bounded: expire old log records, history stops at the gap
    t.expire_versions(min_age_seconds=0.0)
    h2 = t.history()
    assert h2, "latest version's record must survive expire"
    assert h2[0]["version"] == 4
    assert len(h2) < 4


# ---- optimistic-commit auto-rebase (logical conflict detection) ----------


def _bucket_of_key(k: int, n_buckets: int = 4) -> int:
    from pyspark.sql.types import LongType

    from mr_spark.sources.snapshot_sink import bucket_of

    return bucket_of(k, LongType(), n_buckets)


def test_append_rebases_across_concurrent_append(spark, tmp_path):
    """Blind appends COMMUTE: a concurrent commit landing between an
    append's manifest read and its commit triggers an automatic rebase
    (staged files are reused — only manifest work is redone), exactly
    Delta's appends-never-conflict rule."""
    t = _mk(spark, tmp_path, [(1, "a")])
    t2 = SnapshotTable(spark, t.path)
    t._pre_commit_hook = lambda: t2.append(
        spark.createDataFrame([(2, "other")], "k bigint, v string")
    )
    t.append(spark.createDataFrame([(3, "mine")], "k bigint, v string"))
    assert t.last_commit_retries == 1
    assert t.latest_version() == 3
    assert _rows(t.read()) == [(1, "a"), (2, "other"), (3, "mine")]
    ops = [e["operation"] for e in t.history()]
    assert ops == ["APPEND", "APPEND", "CREATE"]


def test_merge_rebases_when_buckets_disjoint_conflicts_on_overlap(spark, tmp_path):
    """A bucket-pruned MERGE rebases across a concurrent commit that
    touched ONLY other buckets; a concurrent rewrite of a bucket the
    merge read is a real lost-update hazard and must raise."""
    keys = list(range(100))
    by_bucket = {}
    for k in keys:
        by_bucket.setdefault(_bucket_of_key(k), []).append(k)
    b_a, b_b = sorted(by_bucket)[:2]
    ka, kb = by_bucket[b_a][0], by_bucket[b_b][0]
    t = _mk(spark, tmp_path, [(k, f"v{k}") for k in keys])
    t2 = SnapshotTable(spark, t.path)
    # disjoint: t2 merges a key in bucket b_b while t merges bucket b_a
    t._pre_commit_hook = lambda: t2.merge_upsert(
        spark.createDataFrame([(kb, "theirs")], "k bigint, v string")
    )
    t.merge_upsert(
        spark.createDataFrame([(ka, "mine")], "k bigint, v string")
    )
    assert t.last_commit_retries == 1
    rows = dict(_rows(t.read()))
    assert rows[ka] == "mine" and rows[kb] == "theirs"
    # overlap: t2 rewrites the SAME bucket (another key hashing there)
    ka2 = by_bucket[b_a][1]
    t._pre_commit_hook = lambda: t2.merge_upsert(
        spark.createDataFrame([(ka2, "theirs2")], "k bigint, v string")
    )
    with pytest.raises(ConflictError, match="rewrote bucket"):
        t.merge_upsert(
            spark.createDataFrame([(ka, "mine2")], "k bigint, v string")
        )
    # the concurrent writer's commit survives; ours never landed
    rows = dict(_rows(t.read()))
    assert rows[ka2] == "theirs2" and rows[ka] == "mine"


def test_rebase_aborts_on_concurrent_identity_change(spark, tmp_path):
    """An append cannot rebase across a constraint add (its rows were
    validated — not at all — against the OLD constraint set)."""
    t = _mk(spark, tmp_path, [(1, "a")])
    t2 = SnapshotTable(spark, t.path)
    t._pre_commit_hook = lambda: t2.add_constraint("v_set", "v IS NOT NULL")
    with pytest.raises(ConflictError, match="identity"):
        t.append(spark.createDataFrame([(2, "b")], "k bigint, v string"))
    assert t.latest_version() == 2  # only the constraint commit landed


def test_delete_conflicts_with_concurrent_dv_on_read_bucket(spark, tmp_path):
    """A copy-on-write DELETE that read a bucket conflicts with a
    concurrent DV attach to that bucket's files (the rewrite would
    resurrect the DV-deleted rows by dropping the sidecar reference)."""
    keys = list(range(40))
    by_bucket = {}
    for k in keys:
        by_bucket.setdefault(_bucket_of_key(k), []).append(k)
    b = sorted(by_bucket)[0]
    k1, k2 = by_bucket[b][0], by_bucket[b][1]
    t = _mk(spark, tmp_path, [(k, f"v{k}") for k in keys])
    t2 = SnapshotTable(spark, t.path)
    t._pre_commit_hook = lambda: t2.delete_keys(
        spark.createDataFrame([(k2,)], "k bigint"), mode="dv"
    )
    with pytest.raises(ConflictError):
        t.delete_keys(spark.createDataFrame([(k1,)], "k bigint"))
    # the DV delete survived untouched
    assert k2 not in dict(_rows(t.read()))
    assert k1 in dict(_rows(t.read()))


_RB_SCHEMA = "k bigint, p string, v string"


def _rb_table(spark, path):
    """Partitioned on p: 'a' holds keys 0..19 plus an appended second
    file set (keys 100..139), so its buckets are multi-file compaction
    targets; 'b' holds keys 20..39 in single-file buckets."""
    rows = [(k, "a" if k < 20 else "b", f"v{k}") for k in range(40)]
    t = SnapshotTable.create(
        spark,
        path,
        spark.createDataFrame(rows, _RB_SCHEMA),
        key="k",
        n_buckets=4,
        partition_by="p",
    )
    t.append(
        spark.createDataFrame(
            [(k, "a", f"v{k}") for k in range(100, 140)], _RB_SCHEMA
        )
    )
    return t


def _rb_rows(t):
    return {r["k"]: (r["p"], r["v"]) for r in t.read().collect()}


def _rb_copy_into(spark, t, tmp_path):
    landing = str(tmp_path / "landing")
    spark.createDataFrame([(300, "b", "landed")], _RB_SCHEMA).coalesce(
        1
    ).write.mode("overwrite").parquet(landing)
    t.copy_into(
        [
            os.path.join(landing, f)
            for f in os.listdir(landing)
            if f.endswith(".parquet")
        ]
    )


def _rb_analyze(spark, t, tmp_path):
    t.add_bloom_index("v")  # live files lack blooms: analyze commits
    t.analyze()


# path -> (write, expected rows from the pre-write rows, reads buckets)
_RB_WRITES = {
    "update_cow": (
        lambda spark, t, tmp: t.update({"v": "'upd'"}, where=("p", "a", "a")),
        lambda r0: {
            k: (p, "upd" if p == "a" else v) for k, (p, v) in r0.items()
        },
        True,
    ),
    "compact": (
        lambda spark, t, tmp: t.compact(),
        lambda r0: r0,
        True,
    ),
    "replace_where": (
        lambda spark, t, tmp: t.replace_where(
            "a", spark.createDataFrame([(0, "a", "rw")], _RB_SCHEMA)
        ),
        lambda r0: {
            0: ("a", "rw"),
            **{k: pv for k, pv in r0.items() if pv[0] != "a"},
        },
        True,
    ),
    "apply_changes": (
        lambda spark, t, tmp: t.apply_changes(
            spark.createDataFrame(
                [(0, "a", "cdc", "update_postimage")],
                _RB_SCHEMA + ", _change_type string",
            )
        ),
        lambda r0: {**r0, 0: ("a", "cdc")},
        True,
    ),
    "copy_into": (_rb_copy_into, lambda r0: {**r0, 300: ("b", "landed")}, False),
    "analyze": (_rb_analyze, lambda r0: r0, False),
}


@pytest.mark.parametrize("path", sorted(_RB_WRITES))
def test_write_path_rebases_disjoint_and_conflicts_on_read_bucket(
    spark, tmp_path, path
):
    """Every rebasing write path commutes with a concurrent append into
    a bucket it never read (a brand-new partition): one rebase, both
    writes' rows present. Paths that read buckets still refuse to
    rebase over a concurrent rewrite of one of them (key 0's bucket in
    partition 'a', which each of them reads)."""
    write, expect, reads = _RB_WRITES[path]
    t = _rb_table(spark, str(tmp_path / "rebase"))
    rows0 = _rb_rows(t)
    t2 = SnapshotTable(spark, t.path)
    t._pre_commit_hook = lambda: t2.append(
        spark.createDataFrame([(500, "c", "other")], _RB_SCHEMA)
    )
    write(spark, t, tmp_path)
    assert t.last_commit_retries == 1
    rows = _rb_rows(t)
    assert rows.pop(500) == ("c", "other")
    assert rows == expect(rows0)
    if not reads:
        return
    t = _rb_table(spark, str(tmp_path / "conflict"))
    t2 = SnapshotTable(spark, t.path)
    t._pre_commit_hook = lambda: t2.merge_upsert(
        spark.createDataFrame([(0, "a", "theirs")], _RB_SCHEMA)
    )
    with pytest.raises(ConflictError, match="rewrote bucket"):
        write(spark, t, tmp_path)
    assert _rb_rows(t)[0] == ("a", "theirs")


# ---- generated columns (GENERATED ALWAYS AS) -----------------------------


def test_generated_columns_compute_validate_and_merge_recompute(spark, tmp_path):
    """Delta's generated-column contract: omitted -> computed; provided
    -> validated null-safely (wrong values reject the whole write,
    nothing commits); MERGE recomputes them and refuses them as clause
    targets; the map rides folds/checkpoints and clears on DROP COLUMN."""
    df = spark.createDataFrame(
        [(1, 10.0), (2, 20.5)], "k bigint, price double"
    )
    t = SnapshotTable.create(
        spark,
        str(tmp_path / "t"),
        df,  # omits 'cents' — computed at create
        key="k",
        n_buckets=2,
        generated={"cents": "CAST(ROUND(price * 100) AS BIGINT)"},
    )
    t.checkpoint_interval = 2
    rows = {r["k"]: (r["price"], r["cents"]) for r in t.read().collect()}
    assert rows == {1: (10.0, 1000), 2: (20.5, 2050)}
    # append PROVIDING the correct value passes
    t.append(
        spark.createDataFrame(
            [(3, 1.25, 125)], "k bigint, price double, cents bigint"
        )
    )
    # append with a WRONG value (or NULL) rejects atomically
    base = t.latest_version()
    with pytest.raises(ConstraintViolation, match="generated column"):
        t.append(
            spark.createDataFrame(
                [(4, 2.0, 999)], "k bigint, price double, cents bigint"
            )
        )
    with pytest.raises(ConstraintViolation, match="generated column"):
        t.append(
            spark.createDataFrame(
                [(4, 2.0, None)], "k bigint, price double, cents bigint"
            )
        )
    assert t.latest_version() == base
    # merge_upsert with a source OMITTING the column recomputes it
    t.merge_upsert(
        spark.createDataFrame([(1, 99.0)], "k bigint, price double")
    )
    rows = {r["k"]: r["cents"] for r in t.read().collect()}
    assert rows[1] == 9900
    # multi-clause merge: generated column is not a legal clause target,
    # and updates recompute it
    src = spark.createDataFrame([(2, 40.0, 0)], "k bigint, price double, cents bigint")
    with pytest.raises(ValueError, match="generated"):
        t.merge(src, matched_update={"cents": "s.cents"})
    t.merge(src.drop("cents"), matched_update={"price": "s.price"})
    rows = {r["k"]: r["cents"] for r in t.read().collect()}
    assert rows[2] == 4000
    # the map survives checkpointed reconstruction in a FRESH handle
    t2 = SnapshotTable(spark, t.path)
    with pytest.raises(ConstraintViolation, match="generated column"):
        t2.append(
            spark.createDataFrame(
                [(9, 1.0, 7)], "k bigint, price double, cents bigint"
            )
        )
    # rename of the referenced column is blocked; dropping the generated
    # column clears the rule
    with pytest.raises(ValueError, match="generated"):
        t.rename_column("price", "p2")
    t.drop_column("cents")
    v = t.append(spark.createDataFrame([(5, 3.0)], "k bigint, price double"))
    assert "cents" not in t.read().columns
    assert t.latest_version() == v


# ---- table features (forward-compat protocol gate) -----------------------


def test_features_recorded_and_unknown_feature_refuses_reads(spark, tmp_path):
    """The manifest lists the table features its state uses (Delta's
    readerFeatures); they accumulate across commits, survive checkpoints
    and restore, and a manifest requiring an UNKNOWN feature makes the
    reader refuse loudly instead of silently misreading — while versions
    before the unknown feature stay readable."""
    import json as _json

    from mr_spark.acid import UnsupportedTableFeature

    df = spark.createDataFrame([(1, "a"), (2, "b")], "k bigint, v string")
    t = SnapshotTable.create(
        spark, str(tmp_path / "t"), df, key="k", n_buckets=2,
        bloom_cols=["v"],
    )
    t.add_constraint("v_set", "v IS NOT NULL")
    t.delete_keys(spark.createDataFrame([(2,)], "k bigint"), mode="dv")
    m = t._manifest(t.latest_version())
    assert set(m["features"]) >= {
        "bloom_index", "check_constraints", "deletion_vectors"
    }
    # features survive a fresh reader and accumulate monotonically
    t2 = SnapshotTable(spark, t.path)
    assert set(t2._manifest(t2.latest_version())["features"]) == set(
        m["features"]
    )
    # forge a FUTURE feature into a new commit record
    t.append(spark.createDataFrame([(3, "c")], "k bigint, v string"))
    v = t.latest_version()
    vpath = f"{t.path}/versions/v{v}.json"
    raw = _json.load(open(vpath))
    raw["features"] = sorted(set(m["features"]) | {"future_magic"})
    _json.dump(raw, open(vpath, "w"))
    fresh = SnapshotTable(spark, t.path)
    with pytest.raises(UnsupportedTableFeature, match="future_magic"):
        fresh.read()
    # versions BEFORE the unknown feature still read fine
    assert fresh.read(v - 1).count() == 1  # k=1 lives, k=2 DV-deleted


def test_by_source_merge_conflicts_with_new_bucket_append(spark, tmp_path):
    """A whenNotMatchedBySource merge reads EVERY target row — a
    concurrent append landing in a bucket that was EMPTY at merge start
    holds rows the merge never examined, so the rebase must refuse (the
    clause predicate is 'no source row matches')."""
    # keys 0..9: find one whose bucket differs from all others' so the
    # initial table leaves that bucket empty
    buckets = {k: _bucket_of_key(k) for k in range(40)}
    target_b = buckets[0]
    init = [k for k in buckets if buckets[k] != target_b][:5]
    newcomer = 0  # lands in the bucket the initial table leaves empty
    t = _mk(spark, tmp_path, [(k, f"v{k}") for k in init])
    assert str(target_b) not in t._manifest(1)["files"]
    t2 = SnapshotTable(spark, t.path)
    t._pre_commit_hook = lambda: t2.append(
        spark.createDataFrame([(newcomer, "new")], "k bigint, v string")
    )
    src = spark.createDataFrame([(init[0], "u")], "k bigint, v string")
    with pytest.raises(ConflictError):
        t.merge(
            src,
            matched_update="*",
            not_matched_by_source_delete=True,
            not_matched_by_source_delete_condition="false",
        )
    # the concurrent append survives; the merge never landed
    assert (newcomer, "new") in _rows(t.read())


def test_unknown_feature_refusal_survives_retry_on_same_handle(spark, tmp_path):
    """The feature gate must fire on EVERY read, not just the first: a
    refused manifest may never enter the reconstruction cache (a caller
    catching the error and retrying on the same handle would otherwise
    silently read past the gate)."""
    import json as _json

    from mr_spark.acid import UnsupportedTableFeature

    t = _mk(spark, tmp_path, [(1, "a")])
    t.append(spark.createDataFrame([(2, "b")], "k bigint, v string"))
    v = t.latest_version()
    vpath = f"{t.path}/versions/v{v}.json"
    raw = _json.load(open(vpath))
    raw["features"] = ["future_magic"]
    _json.dump(raw, open(vpath, "w"))
    fresh = SnapshotTable(spark, t.path)
    for _ in range(2):  # second attempt must refuse too (no cache leak)
        with pytest.raises(UnsupportedTableFeature, match="future_magic"):
            fresh.read()
    assert _rows(fresh.read(v - 1)) == [(1, "a")]  # pre-feature version ok


def test_vacuum_dry_run_reports_without_deleting(spark, tmp_path):
    """VACUUM DRY RUN: same liveness walk and retention gate, zero
    deletions — a second real vacuum then collects exactly the reported
    set (and dry_run never expires log records either)."""
    t = _mk(spark, tmp_path, [(1, "a"), (2, "b")])
    t.merge_upsert(spark.createDataFrame([(1, "A")], "k bigint, v string"))
    t.expire_versions(min_age_seconds=0.0)  # v1-only files become dead
    would = t.vacuum(min_age_seconds=0.0, dry_run=True)
    assert would, "expected reclaimable copy-on-write debris"
    for rel in would:  # nothing actually deleted
        assert os.path.exists(os.path.join(t.path, rel))
    assert _rows(t.read()) == [(1, "A"), (2, "b")]
    assert t.vacuum(min_age_seconds=0.0) == would  # real run matches
    for rel in would:
        assert not os.path.exists(os.path.join(t.path, rel))


# ---- value-partitioned layout (round 6) -------------------------------------


def _mkp(spark, tmp_path, rows, n_buckets=2):
    df = spark.createDataFrame(rows, "k bigint, day string, v string")
    return SnapshotTable.create(
        spark, str(tmp_path / "ptbl"), df, key="k", n_buckets=n_buckets,
        partition_by="day",
    )


def _prows(df):
    return sorted((r["k"], r["day"], r["v"]) for r in df.collect())


def test_partitioned_layout_dirs_and_composite_ids(spark, tmp_path):
    t = _mkp(spark, tmp_path, [(1, "d1", "a"), (2, "d2", "b"), (3, "d1", "c")])
    m = t._manifest(1)
    assert m["partition_by"] == "day"
    assert all("|" in b for b in m["files"])
    assert {b.rsplit("|", 1)[0] for b in m["files"]} == {"d1", "d2"}
    data = os.listdir(os.path.join(t.path, "data"))
    assert sorted(d for d in data if d.startswith("day=")) == ["day=d1", "day=d2"]
    # every manifest entry lives under its partition's directory
    for b, rels in m["files"].items():
        pval = b.rsplit("|", 1)[0]
        assert all(f"day={pval}" in rel for rel in rels)


def test_partition_pruned_read_touches_only_matching_files(spark, tmp_path):
    t = _mkp(spark, tmp_path, [(i, f"d{i % 3}", "x") for i in range(30)])
    paths = t.data_paths(where=("day", "d1", "d1"))
    assert t.last_partition_prune is not None
    assert t.last_partition_prune["kept_buckets"] < t.last_partition_prune["total_buckets"]
    assert paths and all("day=d1" in p for p in paths)
    got = t.read(where=("day", "d1", "d1"))
    assert sorted(r["k"] for r in got.collect()) == [i for i in range(30) if i % 3 == 1]


def test_partitioned_merge_finds_match_in_other_partition(spark, tmp_path):
    """The merge key does not imply the partition: a source row for key 2
    carrying day d9 must still REPLACE the target's (2, d2) row — the
    hash-suffix bucket expansion reads matching buckets across ALL
    partitions (partition-exact pruning would lose this match)."""
    t = _mkp(spark, tmp_path, [(1, "d1", "a"), (2, "d2", "b")])
    src = spark.createDataFrame([(2, "d9", "B"), (7, "d7", "Z")],
                                "k bigint, day string, v string")
    t.merge_upsert(src)
    assert _prows(t.read()) == [(1, "d1", "a"), (2, "d9", "B"), (7, "d7", "Z")]
    # no duplicate key 2, and its file moved to the d9 partition dir
    m = t._manifest(t.latest_version())
    d2_buckets = [b for b in m["files"] if b.startswith("d2|")]
    assert not d2_buckets  # d2's only row was replaced away


def test_partitioned_delete_and_multiclause_merge(spark, tmp_path):
    t = _mkp(spark, tmp_path, [(i, f"d{i % 2}", "x") for i in range(10)])
    t.delete_keys(spark.createDataFrame([(4,), (5,)], "k bigint"))
    assert sorted(r["k"] for r in t.read().collect()) == [0, 1, 2, 3, 6, 7, 8, 9]
    src = spark.createDataFrame([(6, "d0", "UP"), (11, "d3", "IN")],
                                "k bigint, day string, v string")
    t.merge(src, matched_update={"v": "s.v"}, not_matched_insert="*")
    rows = dict((r["k"], (r["day"], r["v"])) for r in t.read().collect())
    assert rows[6] == ("d0", "UP") and rows[11] == ("d3", "IN")


def test_partitioned_merge_refuses_partition_assignment(spark, tmp_path):
    t = _mkp(spark, tmp_path, [(1, "d1", "a")])
    src = spark.createDataFrame([(1, "d1", "b")], "k bigint, day string, v string")
    with pytest.raises(ValueError, match="partition column"):
        t.merge(src, matched_update={"day": "'d9'"})


def test_drop_partition_is_metadata_only_and_time_travelable(spark, tmp_path):
    t = _mkp(spark, tmp_path, [(i, f"d{i % 3}", "x") for i in range(12)])
    files_before = {
        os.path.join(dp, fn)
        for dp, _, fns in os.walk(os.path.join(t.path, "data"))
        for fn in fns
    }
    v = t.drop_partition("d0")
    assert v == 2
    files_after = {
        os.path.join(dp, fn)
        for dp, _, fns in os.walk(os.path.join(t.path, "data"))
        for fn in fns
    }
    assert files_after == files_before  # zero data movement
    assert t.read().where("day = 'd0'").count() == 0
    assert t.read(version=1).where("day = 'd0'").count() == 4  # time travel
    raw = t._read_vfile(2)
    assert raw.get("delta") and raw.get("removes") and not raw.get("adds")
    # dropping a value nothing references is a no-op, not a commit
    assert t.drop_partition("nope") == 2
    # unpartitioned tables refuse
    u = _mk(spark, tmp_path, [(1, "a")])
    with pytest.raises(ValueError, match="partition_by"):
        u.drop_partition("x")


def test_drop_partition_conflicts_with_concurrent_partition_write(spark, tmp_path):
    t = _mkp(spark, tmp_path, [(1, "d1", "a"), (2, "d2", "b")])
    w2 = SnapshotTable(spark, t.path)
    t._pre_commit_hook = lambda: w2.append(
        spark.createDataFrame([(9, "d1", "z")], "k bigint, day string, v string")
    )
    with pytest.raises(ConflictError):
        t.drop_partition("d1")


def test_vacuum_reclaims_dropped_partition_after_log_expiry(spark, tmp_path):
    t = _mkp(spark, tmp_path, [(i, f"d{i % 2}", "x") for i in range(8)])
    t.drop_partition("d0")
    assert t.vacuum(min_age_seconds=0) == []  # v1 still references d0
    t.vacuum(min_age_seconds=0, version_retention_seconds=0)
    # the d0 directory's files are gone and the empty dir was tidied
    assert not os.path.exists(os.path.join(t.path, "data", "day=d0"))
    assert t.read().count() == 4


def test_partitioned_rides_checkpoint_restore_clone_rebucket(spark, tmp_path):
    t = _mkp(spark, tmp_path, [(i, f"d{i % 2}", "x") for i in range(8)])
    t.checkpoint_interval = 2
    t.append(spark.createDataFrame([(100, "d5", "y")], "k bigint, day string, v string"))
    t.drop_partition("d5")
    fresh = SnapshotTable(spark, t.path)
    m = fresh._manifest(fresh.latest_version())
    assert fresh.last_resolution["base_kind"] == "checkpoint"
    assert m["partition_by"] == "day"
    t.restore(2)
    assert t.read().where("day = 'd5'").count() == 1
    assert t._manifest(t.latest_version())["partition_by"] == "day"
    c = t.clone(str(tmp_path / "clone"))
    mc = c._manifest(1)
    assert mc["partition_by"] == "day"
    assert c.read().count() == t.read().count()
    t.rebucket(4)
    m = t._manifest(t.latest_version())
    assert m["n_buckets"] == 4 and all("|" in b for b in m["files"])
    assert t.read().count() == 9


def test_partition_value_and_schema_guards(spark, tmp_path):
    with pytest.raises(ConstraintViolation):
        _mkp(spark, tmp_path, [(1, "a/b", "x")])
    with pytest.raises(ConstraintViolation):
        _mkp(spark, tmp_path, [(1, None, "x")])
    t = _mkp(spark, tmp_path / "ok", [(1, "d1", "x")])
    with pytest.raises(ConstraintViolation):
        t.append(spark.createDataFrame([(2, "a|b", "y")], "k bigint, day string, v string"))
    with pytest.raises(ValueError, match="partition column"):
        t.append(spark.createDataFrame([(2, "y")], "k bigint, v string"))
    with pytest.raises(ValueError, match="partition"):
        t.rename_column("day", "dt")
    with pytest.raises(ValueError, match="partition"):
        t.drop_column("day")
    with pytest.raises(ValueError, match="differ from the bucket key"):
        SnapshotTable.create(
            spark, str(tmp_path / "bad"),
            spark.createDataFrame([(1, "a")], "k bigint, v string"),
            key="k", partition_by="k",
        )
    # feature gate: a partitioned manifest lists value_partitioning
    m = t._manifest(t.latest_version())
    assert "value_partitioning" in m.get("features", [])


def test_partitioned_generated_partition_column(spark, tmp_path):
    """The common Delta pattern: partition on a GENERATED date column —
    writers omit it, the expression computes it, the layout follows."""
    df = spark.createDataFrame([(1, 15), (2, 24), (3, 17)], "k bigint, ts bigint")
    t = SnapshotTable.create(
        spark, str(tmp_path / "g"), df, key="k",
        generated={"day": "CAST(ts % 2 AS STRING)"}, partition_by="day",
    )
    assert {d for d in os.listdir(os.path.join(t.path, "data")) if d.startswith("day=")} == {"day=0", "day=1"}
    t.append(spark.createDataFrame([(9, 30)], "k bigint, ts bigint"))
    assert t.read(where=("day", "0", "0")).count() == 2


def test_partitioned_change_feed_and_detail(spark, tmp_path):
    t = _mkp(spark, tmp_path, [(1, "d1", "a"), (2, "d2", "b")])
    t.drop_partition("d1")
    ch = t.changes(1, 2)
    assert [(r["k"], r["_change_type"]) for r in ch.collect()] == [(1, "delete")]
    det = t.detail()
    assert det["partition_by"] == "day" and det["numPartitions"] == 1
    assert det["numFiles"] == 1 and det["sizeInBytes"] > 0
    assert det["version"] == 2


def test_replace_where_scope_atomicity_and_time_travel(spark, tmp_path):
    """Dynamic partition overwrite: one atomic commit replaces exactly
    the matching partition — other partitions' file lists byte-identical,
    the replaced partition reads the new slice, and the OLD version stays
    time-travelable (the removal is metadata; vacuum owns deletion)."""
    t = _mkp(spark, tmp_path, [(i, f"d{i % 3}", "old") for i in range(12)])
    m1 = t._manifest(1)
    new = spark.createDataFrame(
        [(100, "d1", "new"), (101, "d1", "new")], "k bigint, day string, v string"
    )
    v = t.replace_where("d1", new)
    assert v == 2
    m2 = t._manifest(2)
    for b in set(m1["files"]) | set(m2["files"]):
        if not b.startswith("d1|"):
            assert m1["files"].get(b) == m2["files"].get(b)
    assert _prows(t.read().where("day = 'd1'")) == [
        (100, "d1", "new"), (101, "d1", "new")
    ]
    assert t.read().where("day = 'd0'").count() == 4
    # time travel: v1 still reads the replaced rows, files still on disk
    assert t.read(version=1).where("day = 'd1'").count() == 4
    for rels in m1["files"].values():
        for rel in rels:
            assert os.path.exists(t._entry_full(rel))


def test_replace_where_rejects_out_of_partition_rows(spark, tmp_path):
    """Delta's replaceWhere data constraint: a frame with rows outside
    the replaced partition fails atomically — no version advance."""
    t = _mkp(spark, tmp_path, [(1, "d1", "a"), (2, "d2", "b")])
    bad = spark.createDataFrame(
        [(9, "d1", "x"), (10, "d2", "y")], "k bigint, day string, v string"
    )
    with pytest.raises(ConstraintViolation, match="outside the replaced"):
        t.replace_where("d1", bad)
    assert t.latest_version() == 1
    # schema guards match append's
    with pytest.raises(ValueError, match="not in the table schema"):
        t.replace_where(
            "d1",
            spark.createDataFrame([(9, "d1", "x", 1)],
                                  "k bigint, day string, v string, extra bigint"),
        )
    # unpartitioned tables refuse the operation outright
    u = SnapshotTable.create(
        spark, str(tmp_path / "u"),
        spark.createDataFrame([(1, "a")], "k bigint, v string"), key="k",
    )
    with pytest.raises(ValueError, match="partition_by"):
        u.replace_where("x", u.read())


def test_replace_where_txn_replay_protection(spark, tmp_path):
    """(app_id, batch_id) idempotence, monotonic like merge_upsert:
    replayed and stale batches commit nothing; a higher batch commits;
    a different app_id keeps its own slot."""
    t = _mkp(spark, tmp_path, [(i, f"d{i % 2}", "old") for i in range(8)])
    mk = lambda tag: spark.createDataFrame(
        [(50, "d1", tag)], "k bigint, day string, v string"
    )
    assert t.replace_where("d1", mk("b1"), batch_id=1, app_id="load") == 2
    # replay + stale out-of-order: no-ops
    assert t.replace_where("d1", mk("XX"), batch_id=1, app_id="load") == 2
    assert t.replace_where("d1", mk("XX"), batch_id=0, app_id="load") == 2
    assert t.latest_version() == 2
    assert _prows(t.read().where("day = 'd1'")) == [(50, "d1", "b1")]
    # next batch commits; another writer's slot independent
    assert t.replace_where("d1", mk("b2"), batch_id=2, app_id="load") == 3
    assert t.replace_where("d1", mk("other"), batch_id=1, app_id="app2") == 4
    assert _prows(t.read().where("day = 'd1'")) == [(50, "d1", "other")]


def test_replace_where_respects_constraints_and_generated(spark, tmp_path):
    """replace_where runs the same write-time guards as any write:
    CHECK constraints reject atomically; generated partition columns
    compute when omitted."""
    df = spark.createDataFrame([(1, 10), (2, 11)], "k bigint, ts bigint")
    t = SnapshotTable.create(
        spark, str(tmp_path / "g"), df, key="k",
        generated={"day": "CAST(ts % 2 AS STRING)"}, partition_by="day",
    )
    t.add_constraint("ts_pos", "ts > 0")
    with pytest.raises(ConstraintViolation, match="ts_pos"):
        t.replace_where(
            "0", spark.createDataFrame([(5, -4)], "k bigint, ts bigint")
        )
    # omitted generated partition column computes; value must then match
    v = t.replace_where(
        "0", spark.createDataFrame([(5, 4)], "k bigint, ts bigint")
    )
    assert sorted((r["k"], r["day"]) for r in t.read(version=v).collect()) == [
        (2, "1"), (5, "0")
    ]
    with pytest.raises(ConstraintViolation, match="outside the replaced"):
        t.replace_where(  # computes day='1', not the replaced '0'
            "0", spark.createDataFrame([(6, 3)], "k bigint, ts bigint")
        )


def test_compact_partition_scope(spark, tmp_path):
    """OPTIMIZE WHERE part = v: only the named partition's fragmented
    buckets rewrite; other partitions keep their debris; data unchanged."""
    t = _mkp(spark, tmp_path, [(i, f"d{i % 2}", "x") for i in range(8)])
    t.append(spark.createDataFrame(
        [(i + 100, f"d{i % 2}", "y") for i in range(8)],
        "k bigint, day string, v string",
    ))
    before = _prows(t.read())
    m2 = t._manifest(2)
    assert any(len(r) > 1 for b, r in m2["files"].items() if b.startswith("d0|"))
    v = t.compact(partition="d0")
    m3 = t._manifest(v)
    assert all(len(r) == 1 for b, r in m3["files"].items() if b.startswith("d0|"))
    # d1 untouched: same lists, debris intact
    for b in m2["files"]:
        if b.startswith("d1|"):
            assert m3["files"][b] == m2["files"][b]
    assert any(len(r) > 1 for b, r in m3["files"].items() if b.startswith("d1|"))
    assert _prows(t.read()) == before
    assert t._read_vfile(v)["op"] == {
        "operation": "OPTIMIZE", "zorder": [], "partition": "d0"
    }
    # unpartitioned tables refuse the scope argument
    u = SnapshotTable.create(
        spark, str(tmp_path / "u"),
        spark.createDataFrame([(1, "a")], "k bigint, v string"), key="k",
    )
    with pytest.raises(ValueError, match="partition_by"):
        u.compact(partition="d0")


def _mk2(spark, tmp_path, rows):
    df = spark.createDataFrame(rows, "k bigint, v string")
    return SnapshotTable.create(spark, str(tmp_path / "tbl2"), df, key="k",
                                n_buckets=2)


def test_feed_per_commit_slices_and_tags(spark, tmp_path):
    """feed() = Delta-CDF-shaped per-commit slices: version 1 is the
    CREATE rows as inserts; each later slice equals changes(v-1, v);
    every row carries its _commit_version."""
    t = _mk2(spark, tmp_path, [(1, "a"), (2, "b")])
    t.merge_upsert(spark.createDataFrame([(2, "B"), (3, "c")], "k bigint, v string"))
    t.delete_keys(spark.createDataFrame([(1,)], "k bigint"))
    got = sorted(
        (r["_commit_version"], r["_change_type"], r["k"], r["v"])
        for r in t.feed(1, 3).collect()
    )
    assert got == [
        (1, "insert", 1, "a"),
        (1, "insert", 2, "b"),
        (2, "insert", 3, "c"),
        (2, "update_postimage", 2, "B"),
        (2, "update_preimage", 2, "b"),
        (3, "delete", 1, "a"),
    ]
    # bounded range: only the middle slice
    assert {r["_commit_version"] for r in t.feed(2, 2).collect()} == {2}
    with pytest.raises(ValueError, match="v_from"):
        t.feed(3, 2)
    with pytest.raises(ValueError, match="v_from"):
        t.feed(0, 2)


def test_scd2_from_feed_intervals(spark, tmp_path):
    """SCD2 over the tiny history: every transition shape gets its
    interval — close-by-update, close-by-delete, reopen-after-gap,
    still-open."""
    from mr_spark.operators.cdc import scd2_from_feed

    t = _mk2(spark, tmp_path, [(1, "a"), (2, "b")])
    t.merge_upsert(spark.createDataFrame([(2, "B"), (3, "c")], "k bigint, v string"))
    t.delete_keys(spark.createDataFrame([(1,)], "k bigint"))
    t.append(spark.createDataFrame([(1, "a2")], "k bigint, v string"))
    scd = scd2_from_feed(t.feed(1, 4), "k")
    got = sorted(
        (r["k"], r["v"], r["__start_at"], r["__end_at"]) for r in scd.collect()
    )
    assert got == [
        (1, "a", 1, 3),      # closed by the delete
        (1, "a2", 4, None),  # reopened after a gap, still active
        (2, "B", 2, None),   # update's postimage, still active
        (2, "b", 1, 2),      # closed by the update
        (3, "c", 2, None),   # plain insert, still active
    ]
    # the SCD2 invariant: one active incarnation per key
    active = scd.where(F.col("__end_at").isNull()).groupBy("k").count()
    assert active.where("count > 1").count() == 0


def test_generate_symlink_manifest(spark, tmp_path):
    """GENERATE symlink_format_manifest: the exported text files list
    exactly the current version's data files by absolute path (one
    manifest per partition for partitioned tables); an external engine
    reading those raw paths reproduces the table; DV / column-mapping
    tables refuse; regeneration drops stale partition manifests."""
    t = _mkp(spark, tmp_path, [(i, f"d{i % 2}", "x") for i in range(8)])
    written = t.generate()
    assert sorted(os.path.dirname(w).rsplit("/", 1)[-1] for w in written) == [
        "day=d0", "day=d1"
    ]
    listed = [
        p for w in written for p in open(w).read().splitlines() if p
    ]
    m = t._manifest(t.latest_version())
    expected = sorted(
        t._entry_full(rel) for rels in m["files"].values() for rel in rels
    )
    assert sorted(listed) == expected
    # an engine reading the raw listed paths sees the table
    assert sorted(
        (r["k"], r["day"], r["v"]) for r in spark.read.parquet(*listed).collect()
    ) == _prows(t.read())
    # manifests do not auto-update; regeneration follows commits and
    # drops manifests of partitions that no longer exist
    t.drop_partition("d0")
    assert sorted(listed) == expected  # stale until regenerated, like Delta
    w2 = t.generate()
    assert [os.path.dirname(w).rsplit("/", 1)[-1] for w in w2] == ["day=d1"]
    assert not os.path.isdir(
        os.path.join(t.path, "_symlink_format_manifest", "day=d0")
    )
    # refusals: deletion vectors, column mapping, unknown mode
    u = SnapshotTable.create(
        spark, str(tmp_path / "u"),
        spark.createDataFrame([(1, "a"), (2, "b")], "k bigint, v string"),
        key="k",
    )
    u.delete_keys(spark.createDataFrame([(1,)], "k bigint"), mode="dv")
    with pytest.raises(ValueError, match="deletion vectors"):
        u.generate()
    r = SnapshotTable.create(
        spark, str(tmp_path / "r"),
        spark.createDataFrame([(1, "a")], "k bigint, v string"), key="k",
    )
    r.rename_column("v", "val")
    with pytest.raises(ValueError, match="column mapping"):
        r.generate()
    with pytest.raises(ValueError, match="unsupported generate mode"):
        r.generate("checkpoint")


def test_identity_allocation_and_merge_semantics(spark, tmp_path):
    """Identity columns: create/append allocate in bucket-key order from
    the high-water mark; merge updates KEEP the target's id while
    inserts allocate; deleted ids are never reused; the map rides a
    fresh reader."""
    df = spark.createDataFrame([(k, f"v{k}") for k in (5, 3, 9, 1)],
                               "k bigint, v string")
    t = SnapshotTable.create(spark, str(tmp_path / "t"), df, key="k",
                             n_buckets=2, identity="rid")
    ids = {r["k"]: r["rid"] for r in t.read().collect()}
    assert ids == {1: 1, 3: 2, 5: 3, 9: 4}  # key order, from 1
    t.append(spark.createDataFrame([(7, "x"), (2, "y")], "k bigint, v string"))
    ids = {r["k"]: r["rid"] for r in t.read().collect()}
    assert ids[2] == 5 and ids[7] == 6  # continue in key order
    t.merge_upsert(spark.createDataFrame([(3, "NEW"), (11, "n")],
                                         "k bigint, v string"))
    rows = {r["k"]: (r["rid"], r["v"]) for r in t.read().collect()}
    assert rows[3] == (2, "NEW")   # update keeps the id
    assert rows[11] == (7, "n")    # insert allocates past the high water
    # deletes never free ids
    t.delete_keys(spark.createDataFrame([(11,)], "k bigint"))
    t.append(spark.createDataFrame([(12, "z")], "k bigint, v string"))
    assert {r["rid"] for r in t.read().where("k = 12").collect()} == {8}
    m = t._manifest(t.latest_version())
    assert m["identity"] == {"rid": 8}
    assert "identity_columns" in m["features"]
    # fresh reader reconstructs the same state (delta-fold carry)
    fresh = SnapshotTable(spark, t.path)
    assert fresh._manifest(fresh.latest_version())["identity"] == {"rid": 8}


def test_identity_guards(spark, tmp_path):
    """GENERATED ALWAYS enforcement and the unsupported-combination
    refusals."""
    df = spark.createDataFrame([(1, "a")], "k bigint, v string")
    with pytest.raises(ValueError, match="bucket key"):
        SnapshotTable.create(spark, str(tmp_path / "x"), df, key="k",
                             identity="k")
    t = SnapshotTable.create(spark, str(tmp_path / "t"), df, key="k",
                             n_buckets=2, identity="rid")
    provided = spark.createDataFrame([(2, "b", 99)], "k bigint, v string, rid bigint")
    with pytest.raises(ValueError, match="GENERATED ALWAYS"):
        t.append(provided)
    with pytest.raises(ValueError, match="GENERATED ALWAYS"):
        t.merge_upsert(provided)
    dup = spark.createDataFrame([(2, "b"), (2, "c")], "k bigint, v string")
    with pytest.raises(ValueError, match="duplicate keys"):
        t.append(dup)
    with pytest.raises(ValueError, match="identity"):
        t.merge(spark.createDataFrame([(2, "b")], "k bigint, v string"),
                matched_update="*")
    with pytest.raises(ValueError, match="identity"):
        t.copy_into(["/nonexistent.parquet"])
    with pytest.raises(ValueError, match="identity column"):
        t.rename_column("rid", "rid2")
    with pytest.raises(ValueError, match="identity column"):
        t.drop_column("rid")
    assert t.latest_version() == 1  # nothing above committed


def test_identity_concurrent_allocation_conflicts(spark, tmp_path):
    """Two writers allocating from the same high-water mark must NOT
    both commit via rebase — ids would collide. The injected mid-write
    commit advances the mark, so the loser's rebase raises."""
    df = spark.createDataFrame([(i, "a") for i in range(4)], "k bigint, v string")
    t = SnapshotTable.create(spark, str(tmp_path / "t"), df, key="k",
                             n_buckets=2, identity="rid")
    other = SnapshotTable(spark, t.path)
    t._pre_commit_hook = lambda: other.append(
        spark.createDataFrame([(100, "w")], "k bigint, v string")
    )
    with pytest.raises(ConflictError, match="identity|table identity"):
        t.append(spark.createDataFrame([(200, "l")], "k bigint, v string"))
    # the winner's ids stand; the loser committed nothing
    ids = sorted(r["rid"] for r in other.read().collect())
    assert ids == [1, 2, 3, 4, 5]


def test_identity_rides_checkpoint_and_restore(spark, tmp_path):
    """The identity map survives parquet checkpoints, and RESTORE
    carries the high-water mark FORWARD (never rewound, like the txn
    map): the rolled-back versions stay time-travelable, so re-issuing
    their ids would create cross-version duplicates."""
    df = spark.createDataFrame([(i, "a") for i in range(4)], "k bigint, v string")
    t = SnapshotTable.create(spark, str(tmp_path / "t"), df, key="k",
                             n_buckets=2, identity="rid")
    t.checkpoint_interval = 2
    for j in range(4):
        t.append(spark.createDataFrame([(10 + j, "b")], "k bigint, v string"))
    fresh = SnapshotTable(spark, t.path)
    m = fresh._manifest(fresh.latest_version())
    assert fresh.last_resolution["base_kind"] == "checkpoint"
    assert m["identity"] == {"rid": 8}
    t.restore(2)  # state back to rows 1..5; the mark stays at 8
    assert t._manifest(t.latest_version())["identity"] == {"rid": 8}
    t.append(spark.createDataFrame([(99, "c")], "k bigint, v string"))
    assert sorted(r["rid"] for r in t.read().collect()) == [1, 2, 3, 4, 5, 9]


def test_identity_merge_refuses_ambiguous_multi_match(spark, tmp_path):
    """append() permits duplicate keys; a later merge on an identity
    table would fan a source row out across the duplicate targets with
    different preserved ids — it must refuse (Delta's "multiple rows
    matched"), not write duplicates."""
    t = SnapshotTable.create(
        spark, str(tmp_path / "t"),
        spark.createDataFrame([(1, "a")], "k bigint, v string"),
        key="k", n_buckets=2, identity="rid",
    )
    t.append(spark.createDataFrame([(1, "dup")], "k bigint, v string"))
    with pytest.raises(ValueError, match="multiple target rows"):
        t.merge_upsert(spark.createDataFrame([(1, "new")], "k bigint, v string"))
    assert t.latest_version() == 2  # nothing committed


def test_identity_allocation_invariant_to_input_partitioning(spark, tmp_path):
    """The allocated ids are a pure function of (high-water, keys) — the
    input frame's partitioning and the session's shuffle parallelism
    must not change them (range boundaries may shift; the key-order rank
    does not)."""
    import random

    keys = list(range(0, 400, 3))
    random.Random(7).shuffle(keys)
    rows = [(k, f"v{k}") for k in keys]
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "7")
        t1 = SnapshotTable.create(
            spark, str(tmp_path / "a"),
            spark.createDataFrame(rows, "k bigint, v string").repartition(3),
            key="k", n_buckets=2, identity="rid",
        )
        spark.conf.set("spark.sql.shuffle.partitions", "32")
        t2 = SnapshotTable.create(
            spark, str(tmp_path / "b"),
            spark.createDataFrame(rows, "k bigint, v string").repartition(17),
            key="k", n_buckets=4, identity="rid",
        )
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    ids1 = sorted((r["k"], r["rid"]) for r in t1.read().collect())
    ids2 = sorted((r["k"], r["rid"]) for r in t2.read().collect())
    assert ids1 == ids2
    # and they are exactly the key-order ranks
    assert ids1 == [(k, i + 1) for i, k in enumerate(sorted(keys))]

def test_clone_carries_identity(spark, tmp_path):
    """A shallow clone of an identity table keeps BOTH halves of the
    identity spec (Delta's CLONE carries identity metadata): GENERATED
    ALWAYS enforcement still refuses provided values, and allocation
    continues from the source's high-water mark instead of restarting."""
    t = SnapshotTable.create(
        spark, str(tmp_path / "src"),
        spark.createDataFrame([(1, "a"), (2, "b")], "k bigint, v string"),
        key="k", n_buckets=2, identity="rid",
    )
    c = t.clone(str(tmp_path / "dst"))
    assert c._manifest(c.latest_version())["identity"] == {"rid": 2}
    with pytest.raises(ValueError, match="IDENTITY"):
        c.append(spark.createDataFrame(
            [(9, "x", 99)], "k bigint, v string, rid bigint"
        ))
    c.append(spark.createDataFrame([(9, "x")], "k bigint, v string"))
    assert sorted((r["k"], r["rid"]) for r in c.read().collect()) == [
        (1, 1), (2, 2), (9, 3)
    ]


def test_apply_changes_identity_preserves_allocates_and_refuses(spark, tmp_path):
    """apply_changes on an identity table mirrors merge_upsert: the feed
    can never provide the column; an updated key keeps the target's id;
    a genuine insert allocates PAST the high-water mark (which advances
    in the same commit, so a later append cannot reissue ids)."""
    t = SnapshotTable.create(
        spark, str(tmp_path / "t"),
        spark.createDataFrame([(1, "a"), (2, "b")], "k bigint, v string"),
        key="k", n_buckets=2, identity="rid",
    )
    with pytest.raises(ValueError, match="IDENTITY"):
        t.apply_changes(spark.createDataFrame(
            [("insert", 5, "x", 99)],
            "_change_type string, k bigint, v string, rid bigint",
        ))
    feed = spark.createDataFrame(
        [("update_postimage", 1, "A"), ("insert", 5, "x"), ("delete", 2, "b")],
        "_change_type string, k bigint, v string",
    )
    t.apply_changes(feed)
    assert sorted((r["k"], r["v"], r["rid"]) for r in t.read().collect()) == [
        (1, "A", 1), (5, "x", 3)
    ]
    assert t._manifest(t.latest_version())["identity"] == {"rid": 3}
    # the advanced mark means a later append cannot duplicate id 3
    t.append(spark.createDataFrame([(7, "y")], "k bigint, v string"))
    rids = [r["rid"] for r in t.read().collect()]
    assert sorted(rids) == [1, 3, 4] and len(set(rids)) == 3


def test_keyed_writes_bucket_by_recomputed_generated_partition(spark, tmp_path):
    """A source row providing an INCONSISTENT value for a generated
    partition column must land under its TRUE (recomputed) partition:
    bucketing before recomputation would directory it under the provided
    value while storing the recomputed one — silently invisible to
    partition-pruned reads of its true partition."""
    df = spark.createDataFrame([(1, 10), (2, 11)], "k bigint, ts bigint")
    t = SnapshotTable.create(
        spark, str(tmp_path / "g"), df, key="k",
        generated={"day": "CAST(ts % 2 AS STRING)"}, partition_by="day",
    )
    # ts=4 -> true day '0', but the source claims day '1'
    bad = spark.createDataFrame(
        [(5, 4, "1")], "k bigint, ts bigint, day string"
    )
    t.merge_upsert(bad)
    pruned = t.read(where=("day", "0", "0"))
    assert sorted((r["k"], r["day"]) for r in pruned.collect()) == [
        (1, "0"), (5, "0")
    ]
    assert t.read(where=("day", "1", "1")).count() == 1  # just k=2
    # same guarantee through the CDC-apply path
    feed = spark.createDataFrame(
        [("insert", 6, 8, "1")],
        "_change_type string, k bigint, ts bigint, day string",
    )
    t.apply_changes(feed)
    assert sorted(
        r["k"] for r in t.read(where=("day", "0", "0")).collect()
    ) == [1, 5, 6]


def test_version_at_skips_record_expired_mid_walk(spark, tmp_path, monkeypatch):
    """A concurrent expire_versions unlinking a pre-in-commit-timestamp
    record between version_at's listdir and the mtime stat must SKIP that
    version (history()'s retention-bounded contract), not raise."""
    import json as _json
    import time as _time

    t = _mk(spark, tmp_path, [(1, "a")])
    t.append(spark.createDataFrame([(2, "b")], "k bigint, v string"))
    v1 = os.path.join(t._versions_dir(), "v1.json")
    with open(v1) as f:
        rec = _json.load(f)
    rec.pop("ts", None)  # legacy record: commit instant = file mtime
    with open(v1, "w") as f:
        _json.dump(rec, f)
    real = os.path.getmtime

    def racing(path):
        if os.path.abspath(path) == os.path.abspath(v1):
            raise FileNotFoundError(path)  # unlinked between listdir and stat
        return real(path)

    monkeypatch.setattr(os.path, "getmtime", racing)
    assert t.version_at(_time.time() + 60) == 2


def test_schema_evolution_merge_automerge(spark, tmp_path):
    """merge_upsert(merge_schema=True) — Delta's MERGE autoMerge: source
    columns not in the table evolve the schema IN the merge commit;
    carried rows and pre-existing files read NULL for them; type
    conflicts still raise; under column mapping a re-added dropped
    column gets a fresh physical slot (no byte resurrection)."""
    t = _mk(spark, tmp_path, [(1, "a"), (2, "b"), (3, "c")])
    src = spark.createDataFrame(
        [(2, "B", 9.5), (4, "d", 1.5)], "k bigint, v string, score double"
    )
    with pytest.raises(ValueError, match="autoMerge"):
        t.merge_upsert(src)
    v = t.merge_upsert(src, merge_schema=True)
    got = sorted(
        (r["k"], r["v"], r["score"]) for r in t.read().collect()
    )
    assert got == [(1, "a", None), (2, "B", 9.5), (3, "c", None), (4, "d", 1.5)]
    # pre-evolution version still reads the old schema
    assert t.read(1).columns == ["k", "v"]
    h = {r["version"]: r for r in t.history()}
    assert h[v]["params"]["schema_evolved"] is True
    # type conflict on an existing column raises even with the flag
    bad = spark.createDataFrame([(5, 7)], "k bigint, v bigint")
    with pytest.raises(ValueError, match="type"):
        t.merge_upsert(bad, merge_schema=True)
    # a fresh reader sees the evolved schema
    fresh = SnapshotTable(spark, t.path)
    assert fresh.read().columns == ["k", "v", "score"]


def test_merge_automerge_dropped_column_fresh_physical(spark, tmp_path):
    t = _mk(spark, tmp_path, [(1, "a"), (2, "b")])
    ev = spark.createDataFrame(
        [(3, "c", 99)], "k bigint, v string, extra bigint"
    )
    t.append(ev, merge_schema=True)
    t.drop_column("extra")
    # re-add via MERGE: old files' "extra" bytes must NOT come back
    t.merge_upsert(
        spark.createDataFrame([(1, "A", 7)], "k bigint, v string, extra bigint"),
        merge_schema=True,
    )
    got = {r["k"]: r["extra"] for r in t.read().collect()}
    assert got == {1: 7, 2: None, 3: None}
    m = t._manifest(t.latest_version())
    assert m.get("colmap", {}).get("extra", "extra") != "extra"


def test_type_widening_metadata_only(spark, tmp_path):
    """widen_column — Delta's typeWidening: the manifest schema takes the
    wider type, data files keep their narrow pages (zero movement), the
    scan upcasts; time travel predates the widening; narrow sources
    upcast on entry afterwards; lossy changes and hazardous columns
    refuse."""
    df = spark.createDataFrame(
        [(1, 10, 1.5), (2, 20, 2.5)], "k bigint, n int, f float"
    )
    t = SnapshotTable.create(
        spark, str(tmp_path / "w"), df, key="k", n_buckets=2
    )
    v = t.widen_column("n", "bigint")
    assert t._manifest(v)["files"] == t._manifest(1)["files"]  # no rewrite
    assert dict(t.read().dtypes)["n"] == "bigint"
    assert dict(t.read(1).dtypes)["n"] == "int"  # time travel: old schema
    t.widen_column("f", "double")
    assert sorted((r["k"], r["n"], r["f"]) for r in t.read().collect()) == [
        (1, 10, 1.5), (2, 20, 2.5)
    ]
    # narrow-typed append and merge sources upcast on entry and their
    # keys hash into the RIGHT buckets (cast-before-hash)
    t.append(spark.createDataFrame([(3, 30, 3.5)], "k bigint, n int, f float"))
    t.merge_upsert(
        spark.createDataFrame([(2, 99, 9.5)], "k bigint, n int, f float")
    )
    rows = sorted((r["k"], r["n"], r["f"]) for r in t.read().collect())
    assert rows == [(1, 10, 1.5), (2, 99, 9.5), (3, 30, 3.5)]
    # predicate DML sees the widened column
    t.delete(where=("n", 99, 99))
    assert sorted(r["k"] for r in t.read().collect()) == [1, 3]
    # lossy / narrowing refused
    with pytest.raises(ValueError, match="lossless"):
        t.widen_column("n", "int")
    with pytest.raises(ValueError, match="lossless"):
        t.widen_column("k", "double")
    # survives a fresh reader + checkpointed restore
    fresh = SnapshotTable(spark, t.path)
    assert dict(fresh.read().dtypes)["n"] == "bigint"


def test_type_widening_refuses_hazard_columns(spark, tmp_path):
    df = spark.createDataFrame(
        [(1, 10, 5)], "k int, part int, b int"
    )
    t = SnapshotTable.create(
        spark, str(tmp_path / "wh"), df, key="k", n_buckets=2,
        partition_by="part", bloom_cols=("b",),
    )
    with pytest.raises(ValueError, match="bucket key"):
        t.widen_column("k", "bigint")  # int/bigint hash differently
    with pytest.raises(ValueError, match="partition"):
        t.widen_column("part", "bigint")  # canonical value would change
    with pytest.raises(ValueError, match="bloom"):
        t.widen_column("b", "bigint")  # stored blooms hashed narrow values
    df2 = spark.createDataFrame([(1, 10)], "k bigint, n int")
    t2 = SnapshotTable.create(
        spark, str(tmp_path / "wc"), df2, key="k", n_buckets=2,
    )
    t2.add_constraint("n_pos", "n > 0")
    with pytest.raises(ValueError, match="constraint"):
        t2.widen_column("n", "bigint")


def test_narrow_keys_frame_hits_right_buckets(spark, tmp_path):
    """cast-before-hash: an int-typed keys frame against a bigint-keyed
    table must locate (and delete) its victims — hash(int) != hash(bigint)
    would silently miss them."""
    t = _mk(spark, tmp_path, [(k, f"v{k}") for k in range(20)])
    t.delete_keys(spark.createDataFrame([(3,), (7,)], "k int"))
    assert sorted(r["k"] for r in t.read().collect()) == sorted(
        k for k in range(20) if k not in (3, 7)
    )
    t.delete_keys(spark.createDataFrame([(5,)], "k int"), mode="dv")
    assert 5 not in {r["k"] for r in t.read().collect()}


def test_delete_keys_impossible_values_are_noops(spark, tmp_path):
    """A WIDER-typed keys frame with values the table's key type cannot
    hold must be a no-op for those keys (no such key exists), not an
    ANSI CAST_OVERFLOW job abort — and under non-ANSI a plain cast
    would WRAP (2**32+3 -> 3) and silently delete the wrong key
    (ADVICE r7). Lossy-but-legal casts (double 3.5 -> int 3) are the
    same hazard and the same rule: drop the key, not the wrong row."""
    df = spark.createDataFrame([(k, f"v{k}") for k in range(10)], "k int, v string")
    t = SnapshotTable.create(
        spark, str(tmp_path / "itbl"), df, key="k", n_buckets=4
    )
    # overflow value + one genuine victim in the same frame, both modes
    t.delete_keys(spark.createDataFrame([(2**32 + 3, ), (7,)], "k bigint"))
    assert sorted(r["k"] for r in t.read().collect()) == [
        k for k in range(10) if k != 7
    ]
    t.delete_keys(
        spark.createDataFrame([(2**32 + 4,), (5,)], "k bigint"), mode="dv"
    )
    assert sorted(r["k"] for r in t.read().collect()) == [
        k for k in range(10) if k not in (5, 7)
    ]
    # lossy double: 3.5 must NOT delete key 3; 4.0 round-trips and does
    t.delete_keys(spark.createDataFrame([(3.5,), (4.0,)], "k double"))
    assert sorted(r["k"] for r in t.read().collect()) == [0, 1, 2, 3, 6, 8, 9]


def test_bloom_index_lifecycle(spark, tmp_path):
    """ADD/DROP BLOOMFILTER INDEX are metadata-only; analyze()
    retro-builds blooms for existing files; after a drop the stale
    stored blooms are INERT (probes gate on the current index list),
    which is what makes widening the column safe afterwards."""
    rows = [(k, f"u{k:05d}") for k in range(200)]
    df = spark.createDataFrame(rows, "k bigint, uid string")
    t = SnapshotTable.create(
        spark, str(tmp_path / "bl"), df, key="k", n_buckets=4
    )
    probe = ("uid", "u00007", "u00007")
    base_files = len(t.data_paths(where=probe))
    v = t.add_bloom_index("uid")
    assert t._manifest(v)["files"] == t._manifest(v - 1)["files"]
    # existing files carry no blooms yet: pruning unchanged
    assert len(t.data_paths(where=probe)) == base_files
    t.analyze()  # retro-builds blooms for every live file
    pruned = len(t.data_paths(where=probe))
    assert pruned < base_files  # hash-scattered uid: ranges prune nothing
    got = sorted(r["k"] for r in t.read(where=probe).collect())
    assert got == [7]
    # new writes build blooms too
    t.append(spark.createDataFrame([(1000, "u01000")], "k bigint, uid string"))
    m = t._manifest(t.latest_version())
    new_rel = [
        rel
        for rels in m["files"].values()
        for rel in rels
        if "__bloom__" in m["stats"].get(rel, {})
    ]
    assert new_rel
    # drop: metadata-only, probes stop engaging, reads stay correct
    v = t.drop_bloom_index("uid")
    assert "bloom_cols" not in t._manifest(v)
    assert len(t.data_paths(where=probe)) >= base_files  # blooms inert
    assert sorted(r["k"] for r in t.read(where=probe).collect()) == [7]
    # idempotent no-op + unknown-column refusal
    assert t.drop_bloom_index("uid") == v
    with pytest.raises(ValueError, match="no such column"):
        t.add_bloom_index("nope")


def test_widen_after_drop_bloom_index(spark, tmp_path):
    df = spark.createDataFrame([(1, 10), (2, 20)], "k bigint, n int")
    t = SnapshotTable.create(
        spark, str(tmp_path / "wb"), df, key="k", n_buckets=2,
        bloom_cols=("n",),
    )
    with pytest.raises(ValueError, match="bloom"):
        t.widen_column("n", "bigint")
    t.drop_bloom_index("n")
    t.widen_column("n", "bigint")  # now safe: stale blooms never probed
    assert dict(t.read().dtypes)["n"] == "bigint"
    # the point read on the widened column is CORRECT (the stale bloom
    # hashed "10"; a probing reader would hash the same canonical text
    # for bigint 10 — but a future int->double widen changes it, which
    # is exactly why probes gate on the index list)
    assert [r["k"] for r in t.read(where=("n", 10, 10)).collect()] == [1]


def test_row_tracking_stable_ids_and_hidden_reads(spark, tmp_path):
    """create(row_tracking=True): stable hidden row ids — allocated at
    insert, PRESERVED through merge updates and rewrites, never reused
    after deletes; default reads hide _row_id, read(with_row_ids=True)
    exposes it; the change feed carries it."""
    df = spark.createDataFrame(
        [(k, f"v{k}") for k in range(10)], "k bigint, v string"
    )
    t = SnapshotTable.create(
        spark, str(tmp_path / "rt"), df, key="k", n_buckets=2,
        row_tracking=True,
    )
    assert "_row_id" not in t.read().columns  # hidden by default
    ids1 = {
        r["k"]: r["_row_id"] for r in t.read(with_row_ids=True).collect()
    }
    assert sorted(ids1.values()) == list(range(1, 11))  # key-order alloc
    # an update (merge) changes values, never identity
    t.merge_upsert(
        spark.createDataFrame([(3, "UPDATED")], "k bigint, v string")
    )
    ids2 = {
        r["k"]: r["_row_id"] for r in t.read(with_row_ids=True).collect()
    }
    assert ids2 == ids1
    # deletes never free ids; later inserts continue past the high water
    t.delete_keys(spark.createDataFrame([(9,)], "k bigint"))
    t.append(spark.createDataFrame([(100, "new")], "k bigint, v string"))
    ids3 = {
        r["k"]: r["_row_id"] for r in t.read(with_row_ids=True).collect()
    }
    assert ids3[100] == 11 and 10 not in ids3.values()
    # compaction preserves ids (rewrite carries the column)
    t.compact(files_per_bucket=1)
    ids4 = {
        r["k"]: r["_row_id"] for r in t.read(with_row_ids=True).collect()
    }
    assert ids4 == ids3
    # the change feed carries row ids (row-id-keyed replication)
    feed_cols = t.changes(1, 2).columns
    assert "_row_id" in feed_cols
    # GENERATED ALWAYS: a frame providing _row_id refuses
    with pytest.raises(ValueError, match="_row_id"):
        SnapshotTable.create(
            spark, str(tmp_path / "rt2"),
            spark.createDataFrame([(1, 2)], "k bigint, _row_id bigint"),
            key="k", row_tracking=True,
        )
    with pytest.raises(ValueError, match="one"):
        SnapshotTable.create(
            spark, str(tmp_path / "rt3"), df, key="k",
            row_tracking=True, identity="other",
        )


def test_row_tracking_v2_source_hides_unless_opted(spark, tmp_path):
    from mr_spark.sources.snapshot_source import register

    df = spark.createDataFrame(
        [(k, f"v{k}") for k in range(6)], "k bigint, v string"
    )
    t = SnapshotTable.create(
        spark, str(tmp_path / "rtsrc"), df, key="k", n_buckets=2,
        row_tracking=True,
    )
    register(spark)
    base = spark.read.format("snapshot").option("path", t.path).load()
    assert "_row_id" not in base.columns
    assert base.count() == 6
    exposed = (
        spark.read.format("snapshot")
        .option("path", t.path)
        .option("with_row_ids", "true")
        .load()
    )
    assert sorted(r["_row_id"] for r in exposed.collect()) == list(range(1, 7))
    # a where on the hidden column refuses; on the exposed one it works
    with pytest.raises(Exception, match="_row_id"):
        spark.read.format("snapshot").option("path", t.path).option(
            "where", "_row_id <= 2"
        ).load().collect()
    got = (
        spark.read.format("snapshot")
        .option("path", t.path)
        .option("with_row_ids", "true")
        .option("where", "_row_id <= 2")
        .load()
    )
    assert sorted(r["k"] for r in got.collect()) == [0, 1]


# ---- CONVERT in place (Delta's CONVERT TO DELTA analog) --------------------


def _raw_dir(spark, tmp_path, n=40, parts=4):
    df = spark.createDataFrame(
        [(k, "even" if k % 2 == 0 else "odd", float(k)) for k in range(n)],
        "k bigint, grp string, x double",
    )
    src = str(tmp_path / "raw")
    df.repartition(parts, "k").write.parquet(src)
    return src, df


def test_convert_references_source_files_in_place(spark, tmp_path):
    src, df = _raw_dir(spark, tmp_path)
    t = SnapshotTable.convert(spark, str(tmp_path / "tbl"), src, key="k")
    # exact content, zero data movement: the table's own data/ is empty
    # and every manifest entry is an absolute ref into the source dir
    assert sorted(r["k"] for r in t.read().collect()) == list(range(40))
    assert os.listdir(os.path.join(t.path, "data")) == []
    m = t._manifest(1)
    rels = [r for rs in m["files"].values() for r in rs]
    assert rels and all(r.startswith(src) for r in rels)
    ops = {r["version"]: r["operation"] for r in t.history()}
    assert ops[1] == "CONVERT"


def test_convert_stats_prune_and_predicate_dml(spark, tmp_path):
    src, _ = _raw_dir(spark, tmp_path)
    t = SnapshotTable.convert(spark, str(tmp_path / "tbl2"), src, key="k")
    n_files = sum(len(r) for r in t._manifest(1)["files"].values())
    # footer stats collected at convert: an out-of-range read prunes ALL
    assert t.data_paths(where=("x", 1e6, 2e6)) == []
    # merge-on-read DELETE attaches DVs to the EXTERNAL files
    t.delete(where=("x", 0.0, 4.0), mode="dv")
    assert t.read().count() == 35
    assert sum(len(r) for r in t._manifest(2)["files"].values()) == n_files
    assert t._manifest(2).get("dvs")


def test_convert_then_rebucket_localizes_and_prunes_keyed_writes(
    spark, tmp_path
):
    src, _ = _raw_dir(spark, tmp_path)
    t = SnapshotTable.convert(spark, str(tmp_path / "tbl3"), src, key="k")
    # keyed write works pre-rebucket at whole-table granularity
    t.merge_upsert(
        spark.createDataFrame([(0, "even", 999.0)], "k bigint, grp string, x double")
    )
    assert t.read().where("k = 0").first()["x"] == 999.0
    v = t.rebucket(4)
    m = t._manifest(v)
    rels = [r for rs in m["files"].values() for r in rs]
    assert all(not os.path.isabs(r) for r in rels)  # fully localized
    assert len(m["files"]) == 4
    # single-key merge now rewrites exactly one bucket
    before = {b: list(r) for b, r in m["files"].items()}
    t.merge_upsert(
        spark.createDataFrame([(1, "odd", -1.0)], "k bigint, grp string, x double")
    )
    after = t._manifest(t.latest_version())["files"]
    changed = [b for b in before if after.get(b) != before[b]]
    assert len(changed) == 1


def test_convert_refusals(spark, tmp_path):
    src, _ = _raw_dir(spark, tmp_path)
    with pytest.raises(ValueError, match="not a column"):
        SnapshotTable.convert(spark, str(tmp_path / "t4"), src, key="nope")
    with pytest.raises(ValueError, match="does not exist"):
        SnapshotTable.convert(
            spark, str(tmp_path / "t5"), str(tmp_path / "missing"), key="k"
        )
