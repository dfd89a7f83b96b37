"""Change-feed export + replication (lake.export): primary -> Debezium
JSONL feed -> replica, exactly-once, bit-exact including deletes,
NULL-setting updates, multi-window ordering, crash-replay, evolution."""

from __future__ import annotations

import os
from datetime import datetime

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from etl_spark.lake import LakeTable
from etl_spark.lake.export import (
    ChangeFeedExporter,
    applied_through,
    pending_segments,
    prune_feed,
    replicate,
    replicate_available,
)

SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType()),
        T.StructField("val", T.StringType()),
        T.StructField("score", T.DoubleType()),
        T.StructField("ts", T.TimestampType()),
    ]
)


def ts(i: int) -> datetime:
    # microsecond component proves the payload time column round-trips
    # losslessly (the envelope's ts_ms alone would truncate to millis)
    return datetime(2024, 1, 1, 12, i // 60, i % 60, 123456 + i)


def rows(ids, tag="a", t0=0):
    return [(i, f"{tag}{i}", i + 0.1, ts(t0 + (i % 50))) for i in ids]


def make_pair(spark, tmp_path):
    src = LakeTable.create(
        spark, str(tmp_path / "src"), SCHEMA, key=["id"], n_buckets=4
    )
    dst = LakeTable.create(
        spark, str(tmp_path / "dst"), SCHEMA, key=["id"], n_buckets=4
    )
    return src, dst


def assert_same(src, dst):
    a = src.read().orderBy("id").toPandas().reset_index(drop=True)
    b = dst.read().orderBy("id").toPandas().reset_index(drop=True)
    import pandas as pd

    pd.testing.assert_frame_equal(a, b[a.columns], check_dtype=False)


def test_chained_replication_converges(spark, tmp_path):
    """Full initial export, then an incremental window carrying updates,
    a non-null -> NULL update, deletes, and inserts: the replica must be
    bit-exact after each tick, and tick 2 must ship ONLY the diff."""
    src, dst = make_pair(spark, tmp_path)
    work = str(tmp_path / "work")
    src.merge(spark.createDataFrame(rows(range(20)), SCHEMA))

    r1 = replicate(spark, src, dst, work)
    assert not r1["export"]["skipped"]
    assert len(r1["applied"]) == 1 and r1["applied"][0]["rows_applied"] == 20
    assert_same(src, dst)

    # window 2: update 0-4, NULL-out 5's val, delete 6+7, insert 20+21
    upd = spark.createDataFrame(
        rows(range(5), tag="b", t0=50)
        + [(5, None, 5.1, ts(55))]
        + rows([20, 21], t0=56),
        SCHEMA,
    ).withColumn("op", F.lit("U"))
    dels = spark.createDataFrame(
        [(6, None, None, ts(57)), (7, None, None, ts(58))], SCHEMA
    ).withColumn("op", F.lit("D"))
    src.merge(upd.unionByName(dels), op_col="op")

    r2 = replicate(spark, src, dst, work)
    assert_same(src, dst)
    # the incremental window shipped the changed keys only (10), not 20
    assert r2["applied"][0]["rows_in"] == 10
    got = {
        r["id"]: r["val"]
        for r in dst.read().filter(F.col("id").isin(5, 6, 7, 20)).collect()
    }
    assert got == {5: None, 20: "a20"}  # NULL update applied; 6/7 deleted


def test_multi_window_ordering_and_exactly_once(spark, tmp_path):
    """Two windows exported BEFORE any replication apply in ascending
    version order (later window wins per key); a replay tick applies
    nothing and leaves the replica version unchanged."""
    src, dst = make_pair(spark, tmp_path)
    feed = str(tmp_path / "feed")
    state = str(tmp_path / "state")
    ex = ChangeFeedExporter(src, feed, table_name="t")

    src.merge(spark.createDataFrame(rows(range(10)), SCHEMA))
    assert not ex.export_once()["skipped"]
    src.merge(
        spark.createDataFrame(rows(range(5), tag="z", t0=50), SCHEMA)
    )
    assert not ex.export_once()["skipped"]
    assert ex.export_once()["skipped"]  # no new version -> no-op

    stats = replicate_available(spark, feed, dst, state)
    assert [s["batch_id"] for s in stats] == sorted(s["batch_id"] for s in stats)
    assert_same(src, dst)
    vals = {r["id"]: r["val"] for r in dst.read().collect()}
    assert vals[0] == "z0" and vals[9] == "a9"  # window 2 superseded window 1

    v = dst.current_version()
    again = replicate_available(spark, feed, dst, state)
    assert again == [] and dst.current_version() == v


def test_export_crash_between_rename_and_cursor(spark, tmp_path):
    """Crash after the segment rename but before the cursor advance: the
    re-run finds the segment, advances the cursor, and never encodes the
    window twice (no duplicate segment, replica unaffected)."""
    src, dst = make_pair(spark, tmp_path)
    feed = str(tmp_path / "feed")
    ex = ChangeFeedExporter(src, feed, table_name="t")
    src.merge(spark.createDataFrame(rows(range(8)), SCHEMA))

    first = ex.export_once()
    segs = [n for n in os.listdir(feed) if n.startswith("seg-")]
    ex.reset_cursor(0)  # cursor lost; segment survived
    redo = ex.export_once()
    assert redo["segment"] == first["segment"]
    assert [n for n in os.listdir(feed) if n.startswith("seg-")] == segs
    assert ex.cursor() == src.current_version()

    replicate_available(spark, feed, dst, str(tmp_path / "state"))
    assert_same(src, dst)


def test_corrupt_line_dead_letters_clean_rows_apply(spark, tmp_path):
    """A malformed envelope inside a window lands in the rejects dir;
    the window's clean rows still apply."""
    src, dst = make_pair(spark, tmp_path)
    feed = str(tmp_path / "feed")
    state = str(tmp_path / "state")
    ex = ChangeFeedExporter(src, feed, table_name="t")
    src.merge(spark.createDataFrame(rows(range(6)), SCHEMA))
    seg = ex.export_once()["segment"]
    with open(os.path.join(seg, "part-junk.txt"), "w") as fh:
        fh.write("{not-an-envelope\n")

    stats = replicate_available(spark, feed, dst, state)
    assert stats[0]["rows_applied"] == 6
    assert dst.read().count() == 6
    rejects = spark.read.parquet(
        os.path.join(state, "rejects", f"batch={stats[0]['batch_id']}")
    )
    assert rejects.count() == 1


def test_feed_retention_floor_and_rebootstrap(spark, tmp_path):
    """Feed segments every consumer has applied retire (keep_last newest
    stays); export/apply continue across the prune; a late consumer that
    cannot replay pruned windows recovers via a reset_cursor(0) full
    reload."""
    from etl_spark.cdc.state import CommitLog

    src, dst = make_pair(spark, tmp_path)
    feed = str(tmp_path / "feed")
    state = str(tmp_path / "state")
    ex = ChangeFeedExporter(src, feed, table_name="t")
    for tag in ("a", "b", "c"):
        src.merge(spark.createDataFrame(rows(range(8), tag=tag), SCHEMA))
        ex.export_once()
    replicate_available(spark, feed, dst, state)
    assert_same(src, dst)

    log = CommitLog(os.path.join(state, "commits"))
    floor = applied_through(log)
    assert floor == src.current_version()
    res = prune_feed(feed, floor, archive_dir=str(tmp_path / "cold"))
    assert res["pruned_segments"] == 2 and res["kept_segments"] == 1

    # the chain keeps working across the prune
    src.merge(spark.createDataFrame(rows(range(4), tag="d", t0=60), SCHEMA))
    ex.export_once()
    replicate_available(spark, feed, dst, state)
    assert_same(src, dst)

    # a fresh consumer can't replay the pruned prefix -> re-bootstrap:
    # cursor reset publishes a full-load window it CAN apply
    dst2 = LakeTable.create(
        spark, str(tmp_path / "dst2"), SCHEMA, key=["id"], n_buckets=4
    )
    ex.reset_cursor(0)
    ex.export_once()
    replicate_available(
        spark, feed, dst2, str(tmp_path / "state2"), source="replica2"
    )
    assert_same(src, dst2)


def test_two_exporters_share_cursor_without_double_encode(spark, tmp_path):
    """Two exporter instances over one feed dir (crashed-and-restarted
    publisher, or an HA pair): the second sees the first's cursor or its
    already-renamed segment — one segment per window, never two."""
    src, dst = make_pair(spark, tmp_path)
    feed = str(tmp_path / "feed")
    ex1 = ChangeFeedExporter(src, feed, table_name="t")
    ex2 = ChangeFeedExporter(src, feed, table_name="t")

    src.merge(spark.createDataFrame(rows(range(6)), SCHEMA))
    r1 = ex1.export_once()
    assert not r1["skipped"]
    assert ex2.export_once()["skipped"]  # cursor already advanced

    # simulate the race where ex2 lost the cursor but the segment exists
    ex2.reset_cursor(0)
    r2 = ex2.export_once()
    assert r2["segment"] == r1["segment"]
    segs = [n for n in os.listdir(feed) if n.startswith("seg-")]
    assert len(segs) == 1
    assert not [n for n in os.listdir(feed) if n.startswith(".inprogress")]

    replicate_available(spark, feed, dst, str(tmp_path / "state"))
    assert_same(src, dst)


def test_schema_evolution_propagates_through_feed(spark, tmp_path):
    """A column added on the primary reaches the replica: parse with the
    producer's schema, the replica MERGE evolves, values land."""
    src, dst = make_pair(spark, tmp_path)
    work = str(tmp_path / "work")
    src.merge(spark.createDataFrame(rows(range(6)), SCHEMA))
    replicate(spark, src, dst, work)

    evolved = T.StructType(
        list(SCHEMA.fields) + [T.StructField("lang", T.StringType())]
    )
    src.merge(
        spark.createDataFrame(
            [(1, "b1", 1.1, ts(50), "en"), (6, "a6", 6.1, ts(51), "fr")],
            evolved,
        )
    )
    replicate(spark, src, dst, work)
    assert_same(src, dst)
    langs = {r["id"]: r["lang"] for r in dst.read().collect()}
    assert langs[1] == "en" and langs[6] == "fr" and langs[0] is None


def test_cursor_pin_makes_expiry_safe_by_default(spark, tmp_path):
    """The default exporter pins its cursor version with a named ref, so
    a lagging feed survives expire_snapshots: the incremental diff still
    has its base, no re-bootstrap needed; the next export sweeps the
    stale pin so a later expire reclaims the old snapshot."""
    src, dst = make_pair(spark, tmp_path)
    feed = str(tmp_path / "feed")
    ex = ChangeFeedExporter(src, feed, table_name="t")
    src.merge(spark.createDataFrame(rows(range(6)), SCHEMA))
    ex.export_once()
    pinned = ex.cursor()
    assert pinned in set(src.refs().values())

    src.merge(spark.createDataFrame(rows(range(3), tag="x", t0=50), SCHEMA))
    src.merge(spark.createDataFrame(rows([6, 7], tag="y", t0=55), SCHEMA))
    src.expire_snapshots(keep_last=1)  # cursor version survives: pinned
    r = ex.export_once()  # incremental diff, NOT a raise / full load
    assert not r["skipped"] and r["from_version"] == pinned
    replicate_available(spark, feed, dst, str(tmp_path / "state"))
    assert_same(src, dst)
    # old pin swept, new cursor pinned; expiry now reclaims the old base
    pins = set(src.refs().values())
    assert pinned not in pins and ex.cursor() in pins
    src.expire_snapshots(keep_last=1)
    with pytest.raises(FileNotFoundError):
        src.snapshot(pinned, buckets=set())


def test_export_survives_snapshot_expiry_with_rebootstrap(spark, tmp_path):
    """Snapshot expiry under a lagging cursor whose pin was dropped
    out-of-band: the next export raises with the recovery spelled out;
    reset_cursor(0) publishes a full-load window that needs NO retained
    history, and both a current and a fresh consumer converge from it."""
    src, dst = make_pair(spark, tmp_path)
    feed = str(tmp_path / "feed")
    ex = ChangeFeedExporter(src, feed, table_name="t")
    src.merge(spark.createDataFrame(rows(range(6)), SCHEMA))
    ex.export_once()
    replicate_available(spark, feed, dst, str(tmp_path / "state"))

    src.merge(spark.createDataFrame(rows(range(3), tag="x", t0=50), SCHEMA))
    src.merge(spark.createDataFrame(rows([6, 7], tag="y", t0=55), SCHEMA))
    for ref in src.refs():
        if ref.startswith("feed"):
            src.drop_ref(ref)  # out-of-band pin drop
    src.expire_snapshots(keep_last=1)  # cursor's snapshot is now gone

    with pytest.raises(RuntimeError, match="reset_cursor"):
        ex.export_once()

    ex.reset_cursor(0)
    assert not ex.export_once()["skipped"]  # full load, no history needed

    # current consumer catches up through the full-load window
    replicate_available(spark, feed, dst, str(tmp_path / "state"))
    assert_same(src, dst)
    # fresh consumer bootstraps from it alone
    dst2 = LakeTable.create(
        spark, str(tmp_path / "dst2"), SCHEMA, key=["id"], n_buckets=4
    )
    replicate_available(spark, feed, dst2, str(tmp_path / "state2"))
    assert_same(src, dst2)


def test_maintenance_commits_advance_cursor_without_diff(spark, tmp_path):
    """A compaction (every bucket's files rewritten, zero logical rows
    changed) must advance the export cursor as a maintenance-only skip —
    no segment, no O(table) diff — and the next data window still ships
    only its own churn."""
    src, dst = make_pair(spark, tmp_path)
    feed = str(tmp_path / "feed")
    state = str(tmp_path / "state")
    ex = ChangeFeedExporter(src, feed, table_name="t")
    src.merge(spark.createDataFrame(rows(range(12)), SCHEMA))
    ex.export_once()

    src.compact()
    r = ex.export_once()
    assert r["skipped"] and r.get("maintenance_only")
    assert ex.cursor() == src.current_version()
    assert len([n for n in os.listdir(feed) if n.startswith("seg-")]) == 1

    src.merge(spark.createDataFrame(rows(range(3), tag="z", t0=50), SCHEMA))
    r2 = ex.export_once()
    assert not r2["skipped"]
    stats = replicate_available(spark, feed, dst, state)
    assert stats[-1]["rows_in"] == 3  # churn only, not the compacted table
    assert_same(src, dst)


def test_crash_with_table_advance_never_overlaps_full_loads(spark, tmp_path):
    """The killer crash window: segment renamed, cursor NOT advanced, and
    the table advances (a row is DELETED) before the exporter restarts.
    The restart must resume AFTER the committed segment — a second
    overlapping full load would resurrect the deleted row on a fresh
    consumer forever."""
    src, dst = make_pair(spark, tmp_path)
    feed = str(tmp_path / "feed")
    ex = ChangeFeedExporter(src, feed, table_name="t")
    src.merge(spark.createDataFrame(rows(range(8)), SCHEMA))
    first = ex.export_once()          # full-load seg-0-v committed
    os.remove(ex._cursor_file())      # ...but the cursor write was lost
    # primary advances: delete id=3 before the exporter restarts
    del_schema = T.StructType(list(SCHEMA.fields) + [T.StructField("op", T.StringType())])
    src.merge(
        spark.createDataFrame([(3, None, None, None, "D")], del_schema),
        op_col="op",
    )
    redo = ex.export_once()
    # resumed AFTER the committed full load: an incremental window, not a
    # second overlapping full load
    assert redo.get("reconciled") or redo["from_version"] > 0
    segs = sorted(
        n for n in os.listdir(feed) if n.startswith("seg-")
    )
    full_loads = [n for n in segs if n.startswith("seg-000000000000-")]
    assert len(full_loads) == 1
    # drain and verify: the replica must NOT resurrect id=3
    while not ex.export_once().get("skipped"):
        pass
    replicate_available(spark, feed, dst, str(tmp_path / "state"))
    assert_same(src, dst)
    assert dst.read().filter("id = 3").count() == 0


def test_applied_through_is_exact_source_match(spark, tmp_path):
    """A consumer whose name extends another's must not inflate the
    shorter consumer's retention floor."""
    from etl_spark.cdc.state import CommitLog

    log = CommitLog(str(tmp_path / "log"))
    log.commit("cdf-replica", 7)
    log.commit("cdf-replica-b", 42)
    assert applied_through(log, "cdf-replica") == 7
    assert applied_through(log, "cdf-replica-b") == 42
