"""Minor (bucket-selective) compaction.

Contract: ``compact(buckets=...)`` / ``compact(min_files=k)`` rewrites ONLY
the selected buckets — folding exactly their mor/patch backlog — while
every other bucket's manifest entries (and content-addressed manifest
files) are re-referenced verbatim, and the table state is unchanged.
This is the routine maintenance shape at scale: the compaction unit is a
bucket, never the table.
"""

from __future__ import annotations

import json
import os

import pytest

from pyspark.sql import functions as F
from pyspark.sql import types as T

from etl_spark.lake import LakeTable

SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType()),
        T.StructField("turn_idx", T.IntegerType()),
        T.StructField("text", T.StringType()),
    ]
)
OP_SCHEMA = T.StructType(list(SCHEMA.fields) + [T.StructField("op", T.StringType())])
N_BUCKETS = 4


def make(spark, path):
    return LakeTable.create(
        spark, str(path), SCHEMA, key=["conv_id", "turn_idx"],
        n_buckets=N_BUCKETS, bucket_by=["conv_id"],
    )


def seed(spark, table, n_convs=24):
    data = [(f"c{i:03d}", t, f"t{i}-{t}") for i in range(n_convs) for t in range(2)]
    table.append(spark.createDataFrame(data, SCHEMA))
    return data


def conv_buckets(spark, convs):
    rows = (
        spark.createDataFrame([(c,) for c in convs], "conv_id string")
        .select(
            "conv_id",
            F.pmod(F.xxhash64("conv_id"), F.lit(N_BUCKETS)).cast("int").alias("b"),
        )
        .collect()
    )
    return {r.conv_id: r.b for r in rows}


def rows(df):
    return {(r.conv_id, r.turn_idx, r.text) for r in df.collect()}


def manifest_refs(table, version):
    with open(table._snap_path(version)) as fh:
        payload = json.load(fh)
    # bucket id -> manifest ref (refs are named b<bucket>-<sha>.json)
    out = {}
    for ref in payload["manifest_refs"]:
        b = int(os.path.basename(ref).split("-")[0][1:])
        out[b] = ref
    return out


def test_selective_compact_folds_only_selected_buckets(spark, tmp_path):
    t = make(spark, tmp_path / "t")
    seed(spark, t)
    bmap = conv_buckets(spark, [f"c{i:03d}" for i in range(24)])
    # churn two convs in different buckets via mor merges -> delta backlog
    hot = ["c000", next(c for c, b in bmap.items() if b != bmap["c000"])]
    for i in range(2):
        batch = [(c, 0, f"new{i}-{c}", "U") for c in hot]
        t.merge(spark.createDataFrame(batch, OP_SCHEMA), op_col="op", mode="mor")
    before = rows(t.read())
    snap0 = t.snapshot()
    sel = {bmap[hot[0]]}
    other = bmap[hot[1]]
    assert {f["bucket"] for f in snap0.delete_source_files} == {bmap[hot[0]], other}

    got = t.compact(buckets=sel)
    assert got is not None
    snap1 = t.snapshot()
    # state unchanged
    assert rows(t.read()) == before
    # backlog folded ONLY for the selected bucket
    assert {f["bucket"] for f in snap1.delete_source_files} == {other}
    # untouched buckets: every entry re-referenced verbatim
    kept_before = {f["path"] for f in snap0.files if f["bucket"] not in sel}
    kept_after = {f["path"] for f in snap1.files if f["bucket"] not in sel}
    assert kept_before == kept_after
    # ... down to the content-addressed manifest files themselves
    refs0 = manifest_refs(t, snap0.version)
    refs1 = manifest_refs(t, snap1.version)
    for b in refs0:
        if b not in sel:
            assert refs1[b] == refs0[b]
    assert refs1[list(sel)[0]] != refs0[list(sel)[0]]
    # selected bucket collapsed to one file
    assert len([f for f in snap1.files if f["bucket"] in sel]) == 1
    # the remaining backlog still folds correctly on a later full compact
    t.compact()
    assert rows(t.read()) == before
    assert t.snapshot().delete_source_files == []


def test_min_files_selection_and_noop(spark, tmp_path):
    t = make(spark, tmp_path / "t")
    seed(spark, t)  # 1 file per occupied bucket
    bmap = conv_buckets(spark, ["c000"])
    hot_bucket = bmap["c000"]
    for i in range(3):  # 3 more single-conv appends -> hot bucket has 4 files
        t.append(spark.createDataFrame([("c000", 10 + i, f"x{i}")], SCHEMA))
    before = rows(t.read())
    snap0 = t.snapshot()
    per = {}
    for f in snap0.files:
        per[f["bucket"]] = per.get(f["bucket"], 0) + 1
    assert per[hot_bucket] == 4 and all(
        n == 1 for b, n in per.items() if b != hot_bucket
    )
    # threshold above every bucket: no-op, no commit
    assert t.compact(min_files=99) is None
    assert t.current_version() == snap0.version

    got = t.compact(min_files=3)
    assert got is not None and got.op == f"compact(1/{N_BUCKETS} buckets)"
    snap1 = t.snapshot()
    per1 = {}
    for f in snap1.files:
        per1[f["bucket"]] = per1.get(f["bucket"], 0) + 1
    assert per1[hot_bucket] == 1
    assert all(per1[b] == per[b] for b in per if b != hot_bucket)
    assert rows(t.read()) == before


def test_selective_compact_patch_backlog_bucket_local(spark, tmp_path):
    t = make(spark, tmp_path / "t")
    seed(spark, t)
    bmap = conv_buckets(spark, [f"c{i:03d}" for i in range(24)])
    pa = "c001"
    pb = next(c for c, b in bmap.items() if b != bmap[pa])
    patch_schema = T.StructType(
        list(SCHEMA.fields)
        + [
            T.StructField("touched", T.ArrayType(T.StringType())),
            T.StructField("op", T.StringType()),
        ]
    )
    patches = spark.createDataFrame(
        [
            (pa, 0, f"patched-{pa}", ["text"], "U"),
            (pb, 0, f"patched-{pb}", ["text"], "U"),
        ],
        patch_schema,
    )
    t.commit_patches(patches)
    expect = rows(t.read())  # read-time fold is the semantic truth
    assert (pa, 0, f"patched-{pa}") in expect and (pb, 0, f"patched-{pb}") in expect

    t.compact(buckets={bmap[pa]})
    snap = t.snapshot()
    # pa's patch materialized; pb's still deferred — reads identical
    assert {f["bucket"] for f in snap.patch_files} == {bmap[pb]}
    assert rows(t.read()) == expect
    # point lookups through the mixed state stay exact
    assert rows(t.read_for_keys([pa])) == {r for r in expect if r[0] == pa}
    assert rows(t.read_for_keys([pb])) == {r for r in expect if r[0] == pb}


def test_selective_drop_tombstones_is_bucket_local(spark, tmp_path):
    t = make(spark, tmp_path / "t")
    seed(spark, t)
    bmap = conv_buckets(spark, [f"c{i:03d}" for i in range(24)])
    da = "c002"
    db = next(c for c, b in bmap.items() if b != bmap[da])
    guard_schema = T.StructType(
        list(SCHEMA.fields)
        + [
            T.StructField("ts", T.LongType()),
            T.StructField("op", T.StringType()),
        ]
    )
    dels = spark.createDataFrame(
        [(da, 0, None, 100, "D"), (db, 0, None, 100, "D")], guard_schema
    )
    t.merge(dels, op_col="op", lww_by=["ts"])
    assert {f["bucket"] for f in t.snapshot().tomb_files} == {bmap[da], bmap[db]}

    t.compact(buckets={bmap[da]}, drop_tombstones=True)
    snap = t.snapshot()
    # only da's tombstone retired; db's guard record survives ...
    assert {f["bucket"] for f in snap.tomb_files} == {bmap[db]}
    # ... and still rejects a STALE (ts < 100) resurrection of db's key
    stale = spark.createDataFrame(
        [(db, 0, "stale", 50, "U")], guard_schema
    )
    t.merge(stale, op_col="op", lww_by=["ts"])
    got = rows(t.read())
    assert (db, 0, "stale") not in got
    assert all(r[0] != da or r[1] != 0 for r in got)  # da's delete held


def _inject_before_commit(table, fn):
    """Run ``fn`` after the compact's rewrite files are written but
    before its commit — the window a concurrent writer can win."""
    orig = table._write_data_files

    def wrapper(*a, **kw):
        out = orig(*a, **kw)
        table._write_data_files = orig  # fire once
        fn()
        return out

    table._write_data_files = wrapper


def test_selective_compact_rebases_over_disjoint_winner(spark, tmp_path):
    """A concurrent commit into a NON-selected bucket does not abort the
    minor compaction: it rebases (validate-and-retry) and both changes
    land — maintenance never aborts ingest on disjoint buckets."""
    t = make(spark, tmp_path / "t")
    seed(spark, t)
    bmap = conv_buckets(spark, [f"c{i:03d}" for i in range(24)])
    hot = "c000"
    other = next(c for c, b in bmap.items() if b != bmap[hot])
    for i in range(2):
        t.merge(
            spark.createDataFrame([(hot, 0, f"new{i}", "U")], OP_SCHEMA),
            op_col="op", mode="mor",
        )
    writer = LakeTable(spark, t.path)  # second handle = concurrent writer

    def winner():
        writer.merge(
            spark.createDataFrame([(other, 9, "race", "I")], OP_SCHEMA),
            op_col="op",
        )

    _inject_before_commit(t, winner)
    before = rows(t.read()) | {(other, 9, "race")}
    got = t.compact(buckets={bmap[hot]})
    assert got is not None and got.op == f"compact(1/{N_BUCKETS} buckets)"
    # both the winner's row and the folded bucket survive
    assert rows(t.read()) == before
    snap = t.snapshot()
    assert not any(
        f["bucket"] == bmap[hot] for f in snap.delete_source_files
    )
    # the winner's commit is in history right below the compact
    assert [s.op for s in t.history()][-2].startswith("merge")


def test_full_compact_rebases_over_metadata_only_commit(spark, tmp_path):
    """Full compaction is the selection of every occupied bucket, so it
    takes the same validate-and-rebase commit: a concurrent ``tag``
    changes no bucket's entries, and the compact re-commits on top."""
    t = make(spark, tmp_path / "t")
    seed(spark, t)
    t.merge(
        spark.createDataFrame([("c000", 0, "new", "U")], OP_SCHEMA),
        op_col="op", mode="mor",
    )
    writer = LakeTable(spark, t.path)
    _inject_before_commit(t, lambda: writer.tag("concurrent"))
    before = rows(t.read())
    occupied = len({f["bucket"] for f in t.snapshot().files})
    got = t.compact()
    assert got is not None
    assert got.op == f"compact({occupied}/{N_BUCKETS} buckets)"
    assert rows(t.read()) == before
    assert not t.snapshot().delete_source_files
    assert [s.op for s in t.history()][-2] == "concurrent"


def test_compact_of_empty_table_commits_nothing(spark, tmp_path):
    t = make(spark, tmp_path / "t")
    v = t.current_version()
    assert t.compact() is None
    assert t.current_version() == v


def test_selective_compact_raises_on_same_bucket_race(spark, tmp_path):
    """A concurrent commit INTO a selected bucket is a genuine conflict:
    the rewrite is stale, so the compact raises instead of dropping the
    winner's data; state stays exactly the winner's."""
    from etl_spark.lake import CommitConflict

    t = make(spark, tmp_path / "t")
    seed(spark, t)
    bmap = conv_buckets(spark, ["c000"])
    hot = "c000"
    t.merge(
        spark.createDataFrame([(hot, 0, "new0", "U")], OP_SCHEMA),
        op_col="op", mode="mor",
    )
    writer = LakeTable(spark, t.path)

    def winner():
        writer.merge(
            spark.createDataFrame([(hot, 1, "race", "U")], OP_SCHEMA),
            op_col="op", mode="mor",
        )

    _inject_before_commit(t, winner)
    before_version = t.current_version()
    with pytest.raises(CommitConflict):
        t.compact(buckets={bmap[hot]})
    # the winner's commit stands; the lost rewrite left no table change
    assert t.current_version() == before_version + 1
    assert (hot, 1, "race") in rows(t.read())
    # stranded rewrite files are orphans vacuum() can reclaim
    assert t.health()["orphan_files"] >= 1


def test_selection_guards_and_rolled_bucket_not_reselected(spark, tmp_path):
    """Out-of-range explicit buckets raise; unoccupied ones are dropped
    (no spurious content-identical commit); a bucket legitimately rolled
    into multiple AT-TARGET files by target_file_rows is not re-selected
    by min_files on the next maintenance tick."""
    t = make(spark, tmp_path / "t")
    seed(spark, t)
    v = t.current_version()
    with pytest.raises(ValueError):
        t.compact(buckets={N_BUCKETS + 7})
    occupied = {f["bucket"] for f in t.snapshot().files}
    empty = (set(range(N_BUCKETS)) - occupied) or None
    if empty:
        assert t.compact(buckets=empty) is None
    assert t.current_version() == v  # nothing committed

    # roll one hot bucket into several at-target files
    bmap = conv_buckets(spark, ["c000"])
    hot = bmap["c000"]
    for i in range(3):
        t.append(spark.createDataFrame([("c000", 10 + i, f"x{i}")], SCHEMA))
    t.compact(buckets={hot}, target_file_rows=2)
    n_hot = len([f for f in t.snapshot().files if f["bucket"] == hot])
    assert n_hot >= 2  # genuinely rolled
    # maintenance tick with the same target: the rolled bucket is NOT
    # read debt, so min_files must not select it again
    assert t.compact(min_files=2, target_file_rows=2) is None


def test_partitions_backlog_counts_guarded_delete_tombstones(spark, tmp_path):
    """A guarded (lww) MOR delete commits kind='tomb' entries that still
    carry the delete-source role: partitions.backlog_rows must agree
    with snapshots.mor_backlog_rows about them."""
    t = make(spark, tmp_path / "t")
    seed(spark, t)
    guard_schema = T.StructType(
        list(SCHEMA.fields)
        + [T.StructField("ts", T.LongType()), T.StructField("op", T.StringType())]
    )
    t.merge(
        spark.createDataFrame([("c000", 0, None, 100, "D")], guard_schema),
        op_col="op", lww_by=["ts"], mode="mor",
    )
    snap = t.snapshot()
    expect = sum(f.get("rows", 0) for f in snap.delete_source_files)
    assert expect > 0
    parts = t.metadata_df("partitions")
    got = parts.groupBy().sum("backlog_rows").collect()[0][0]
    assert got == expect
    snaps = t.metadata_df("snapshots").orderBy("version").collect()
    assert snaps[-1].mor_backlog_rows == expect
    # version bound honors the pin
    pinned = t.metadata_df("snapshots", version=snap.version - 1).collect()
    assert max(r.version for r in pinned) == snap.version - 1
    # committed_at is the true UTC commit instant regardless of host TZ
    import datetime as _dt
    utc_committed = snaps[-1].committed_at.replace(
        tzinfo=_dt.timezone.utc
    ).timestamp()
    assert abs(utc_committed - snap.ts) < 1.0
