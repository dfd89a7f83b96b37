"""LakeTable: create/append/overwrite/merge/evolution/time-travel/conflict."""

from __future__ import annotations

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F
from pyspark.sql import types as T

from etl_spark.lake import CommitConflict, LakeTable, SchemaEvolutionError
from etl_spark.lake.table import align_to_schema, evolve_schema

SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType()),
        T.StructField("turn_idx", T.IntegerType()),
        T.StructField("text", T.StringType()),
    ]
)


def make(spark, tmp_path, n_buckets=4):
    return LakeTable.create(
        spark, str(tmp_path / "t"), SCHEMA, key=["conv_id", "turn_idx"],
        n_buckets=n_buckets, bucket_by=["conv_id"],
    )


def rows(df):
    return {(r.conv_id, r.turn_idx, r.text) for r in df.collect()}


def test_create_read_empty(spark, tmp_path):
    t = make(spark, tmp_path)
    assert t.read().count() == 0
    assert t.read().schema == SCHEMA
    assert t.current_version() == 0


def test_append_and_read(spark, tmp_path):
    t = make(spark, tmp_path)
    df = spark.createDataFrame([("c1", 0, "hi"), ("c2", 0, "yo")], SCHEMA)
    snap = t.append(df)
    assert snap.version == 1
    assert snap.total_rows == 2
    assert rows(t.read()) == {("c1", 0, "hi"), ("c2", 0, "yo")}


def test_overwrite_atomic_swap(spark, tmp_path):
    t = make(spark, tmp_path)
    t.append(spark.createDataFrame([("c1", 0, "old")], SCHEMA))
    t.overwrite(spark.createDataFrame([("c9", 9, "new")], SCHEMA))
    assert rows(t.read()) == {("c9", 9, "new")}
    # time travel back to the pre-overwrite snapshot
    assert rows(t.read(version=1)) == {("c1", 0, "old")}


def test_merge_upsert_delete_insert(spark, tmp_path):
    t = make(spark, tmp_path)
    t.append(
        spark.createDataFrame(
            [("c1", 0, "a"), ("c1", 1, "b"), ("c2", 0, "c")], SCHEMA
        )
    )
    src_schema = T.StructType(SCHEMA.fields + [T.StructField("op", T.StringType())])
    src = spark.createDataFrame(
        [
            ("c1", 0, "a2", "U"),   # update existing
            ("c1", 1, None, "D"),   # delete existing
            ("c3", 0, "d", "I"),    # insert new
            ("c4", 5, None, "D"),   # delete of absent key -> no-op
        ],
        src_schema,
    )
    snap, stats = t.merge(src, op_col="op")
    assert stats["source_rows"] == 4
    assert rows(t.read()) == {("c1", 0, "a2"), ("c2", 0, "c"), ("c3", 0, "d")}
    # idempotence: re-applying the identical batch leaves state unchanged
    t.merge(src, op_col="op")
    assert rows(t.read()) == {("c1", 0, "a2"), ("c2", 0, "c"), ("c3", 0, "d")}


def test_merge_prunes_buckets(spark, tmp_path):
    t = make(spark, tmp_path, n_buckets=8)
    base = spark.range(0, 400).select(
        F.concat(F.lit("conv"), F.col("id")).alias("conv_id"),
        F.lit(0).alias("turn_idx"),
        F.lit("x").alias("text"),
    )
    t.append(base)
    src = spark.createDataFrame(
        [("conv7", 0, "seven", "U")],
        T.StructType(SCHEMA.fields + [T.StructField("op", T.StringType())]),
    )
    _snap, stats = t.merge(src, op_col="op")
    assert stats["rewritten_buckets"] == 1
    assert stats["kept_buckets"] == 7
    assert stats["target_rows_scanned"] < 400
    assert t.read().filter("conv_id = 'conv7'").first().text == "seven"
    assert t.read().count() == 400


def test_schema_evolution_add_and_widen(spark, tmp_path):
    t = make(spark, tmp_path)
    t.append(spark.createDataFrame([("c1", 0, "a")], SCHEMA))
    evolved = T.StructType(
        [
            T.StructField("conv_id", T.StringType()),
            T.StructField("turn_idx", T.LongType()),  # int -> long widening
            T.StructField("text", T.StringType()),
            T.StructField("tool", T.StringType()),    # added column
            T.StructField("op", T.StringType()),
        ]
    )
    src = spark.createDataFrame([("c2", 1, "b", "search", "I")], evolved)
    t.merge(src, op_col="op")
    out = t.read()
    assert out.schema["turn_idx"].dataType == T.LongType()
    assert "tool" in out.columns
    got = {(r.conv_id, r.turn_idx, r.text, r.tool) for r in out.collect()}
    # old row reads with NULL tool, no rewrite of old files
    assert got == {("c1", 0, "a", None), ("c2", 1, "b", "search")}


def test_schema_evolution_rejects_narrowing_conflict(spark, tmp_path):
    with pytest.raises(SchemaEvolutionError):
        evolve_schema(
            T.StructType([T.StructField("a", T.StringType())]),
            T.StructType([T.StructField("a", T.IntegerType())]),
        )


def test_align_to_schema_casts_and_fills(spark):
    df = spark.createDataFrame([Row(a=1, b="x")])
    schema = T.StructType(
        [
            T.StructField("a", T.LongType()),
            T.StructField("b", T.StringType()),
            T.StructField("c", T.DoubleType()),
        ]
    )
    out = align_to_schema(df, schema)
    assert out.schema == schema
    r = out.first()
    assert (r.a, r.b, r.c) == (1, "x", None)


def test_commit_conflict(spark, tmp_path):
    t = make(spark, tmp_path)
    df = spark.createDataFrame([("c1", 0, "a")], SCHEMA)
    base = t.snapshot()
    t.append(df)
    # a second writer that still thinks version is 0 must fail
    with pytest.raises(CommitConflict):
        t._commit(base, [], [], base.schema, "append")


def test_compact_and_expire(spark, tmp_path):
    t = make(spark, tmp_path, n_buckets=2)
    for i in range(3):
        t.append(spark.createDataFrame([(f"c{i}", 0, "x")], SCHEMA))
    files_before = len(t.snapshot().files)
    t.compact()
    assert len(t.snapshot().files) <= files_before
    assert t.read().count() == 3
    removed = t.expire_snapshots(keep_last=1)
    assert removed > 0
    assert t.read().count() == 3


def test_atomic_create_complete_on_visibility_and_race_loses(tmp_path):
    """Commit files are COMPLETE the instant they are visible (write+
    fsync a temp, hard-link into place): a losing racer gets
    FileExistsError, changes nothing, and leaves no temp residue — so a
    crash can never wedge the chain behind an empty snapshot head."""
    import os

    from etl_spark.lake.table import _atomic_create

    d = tmp_path / "m"
    d.mkdir()
    p = str(d / "snap.json")
    _atomic_create(p, '{"v": 1}')
    assert open(p).read() == '{"v": 1}'
    with pytest.raises(FileExistsError):
        _atomic_create(p, '{"v": 2}')
    assert open(p).read() == '{"v": 1}'
    assert os.listdir(str(d)) == ["snap.json"]


def test_create_ref_expire_race_converges(spark, tmp_path, monkeypatch):
    """create_ref validates after its write; expire re-checks refs
    before each delete. Either the version survives (ref visible in
    time) or the ref rolls back loudly — never a dangling ref."""
    import json
    import os

    import etl_spark.lake.table as lt

    t = make(spark, tmp_path)
    for i in range(3):
        t.append(spark.createDataFrame([(f"c{i}", 0, "x")], SCHEMA))

    # ref loses: the snapshot vanishes between ref write and validation
    real = lt._atomic_create

    def sabotage(path, payload):
        real(path, payload)
        os.remove(t._snap_path(1))  # concurrent expire deleted it

    monkeypatch.setattr(lt, "_atomic_create", sabotage)
    with pytest.raises(FileNotFoundError, match="expired while tagging"):
        t.create_ref("audit", 1)
    monkeypatch.setattr(lt, "_atomic_create", real)
    assert t.refs() == {}  # rolled back, not dangling

    # ref wins: created after expire computed its keep-set but before
    # the per-version delete — the pre-delete recheck retains it
    state = {"injected": False}
    real_refs = lt.LakeTable.refs

    def racy_refs(self):
        out = real_refs(self)
        if not state["injected"]:
            state["injected"] = True
            os.makedirs(self._refs_dir(), exist_ok=True)
            real(
                os.path.join(self._refs_dir(), "late.json"),
                json.dumps({"name": "late", "version": 2, "ts": 0}),
            )
            out.pop("late", None)  # keep-set pass does not see it yet
        return out

    monkeypatch.setattr(lt.LakeTable, "refs", racy_refs)
    t.expire_snapshots(keep_last=1)
    monkeypatch.setattr(lt.LakeTable, "refs", real_refs)
    assert os.path.exists(t._snap_path(2))  # pinned version survived
    assert not os.path.exists(t._snap_path(1))  # unpinned one expired
    assert rows(t.read(ref="late")) == rows(t.read(version=2))


def test_expire_snapshots_age_based_retention(spark, tmp_path):
    """older_than_s keeps every snapshot younger than the horizon (beyond
    keep_last) and expires only aged-out ones — Iceberg's retention
    contract, guaranteeing consumers a time-travel window."""
    import json as _json
    import os as _os

    t = make(spark, tmp_path, n_buckets=2)
    for i in range(4):
        t.append(spark.createDataFrame([(f"c{i}", 0, "x")], SCHEMA))
    # versions 0..4 exist; backdate 0..2 on disk past any horizon
    for v in range(0, 3):
        p = t._snap_path(v)
        with open(p) as fh:
            d = _json.load(fh)
        d["ts"] = 1000.0
        with open(p, "w") as fh:
            _json.dump(d, fh)
    t.expire_snapshots(keep_last=1, older_than_s=3600)
    # young v3 survives beyond keep_last=1; backdated 0..2 are gone
    assert _os.path.exists(t._snap_path(3)) and _os.path.exists(t._snap_path(4))
    assert not any(_os.path.exists(t._snap_path(v)) for v in range(0, 3))
    # the retained window is still time-travelable
    assert t.read(version=3).count() == 3
    assert t.read().count() == 4


def test_read_for_keys_prunes_buckets(spark, tmp_path):
    """Point-lookup reads only the buckets containing the requested keys,
    and returns exactly the full-scan-filter result."""
    from pyspark.sql import functions as F

    df = spark.range(0, 1000).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v")
    )
    table = LakeTable.create(
        spark, str(tmp_path / "t"), df.schema, key=["k"], n_buckets=16
    )
    table.append(df)
    keys = [3, 500, 999]
    got = sorted((r["k"], r["v"]) for r in table.read_for_keys(keys).collect())
    assert got == [(3, 6), (500, 1000), (999, 1998)]
    # pruning evidence: the pruned plan reads fewer files than the table has
    snap = table.snapshot()
    vals = spark.createDataFrame([(k,) for k in keys], "k long")
    buckets = {
        r["b"]
        for r in vals.select(
            F.pmod(F.xxhash64("k"), F.lit(snap.n_buckets)).cast("int").alias("b")
        ).collect()
    }
    assert len(buckets) < snap.n_buckets  # the lookup genuinely pruned
    # compound-key table accepts tuples
    df2 = df.withColumn("k2", F.col("k") % 7)
    t2 = LakeTable.create(
        spark, str(tmp_path / "t2"), df2.schema, key=["k", "k2"],
        n_buckets=8, bucket_by=["k", "k2"],
    )
    t2.append(df2)
    got2 = [(r["k"], r["k2"]) for r in t2.read_for_keys([(10, 3)]).collect()]
    assert got2 == [(10, 3)]


def test_stream_compaction_bounds_files(spark, tmp_path):
    """compact_every: the file count stays bounded across micro-batches
    and converged state is unchanged."""
    from etl_spark.cdc.changelog import (
        ChangelogSpec, TRANSCRIPTS_SCHEMA, expected_final_state,
        generate_changelog, write_changelog,
    )
    from etl_spark.streaming import CdcStream

    spec = ChangelogSpec(
        n_conversations=40, churn=2.0, n_partitions=2, segments_per_partition=4,
    )
    pdf = generate_changelog(spec)
    wal = str(tmp_path / "wal")
    write_changelog(pdf, wal, spec)
    table = LakeTable.create(
        spark, str(tmp_path / "t"), TRANSCRIPTS_SCHEMA,
        key=["conv_id", "turn_idx"], n_buckets=4, bucket_by=["conv_id"],
    )
    stream = CdcStream(
        spark, wal, table, str(tmp_path / "state"),
        max_files_per_trigger=2, compact_every=2, expire_keep_last=2,
    )
    stats = stream.run_to_completion()
    assert len([s for s in stats if not s.get("skipped")]) >= 2
    snap = table.snapshot()
    assert len(snap.files) <= snap.n_buckets  # compacted: <=1 file/bucket
    got = (
        table.read().orderBy("conv_id", "turn_idx").toPandas()
        [["conv_id", "turn_idx", "role", "text"]].reset_index(drop=True)
    )
    exp = expected_final_state(pdf)[
        ["conv_id", "turn_idx", "role", "text"]
    ].reset_index(drop=True)
    import pandas as pd

    pd.testing.assert_frame_equal(got, exp, check_dtype=False)


def test_update_prunes_buckets_and_time_travel(spark, tmp_path):
    """A selective UPDATE rewrites only the buckets holding matched rows;
    the pre-update snapshot stays readable (time travel)."""
    from pyspark.sql import functions as F

    df = spark.range(0, 400).select(
        F.col("id").alias("k"), F.lit("x").alias("tag")
    )
    table = LakeTable.create(
        spark, str(tmp_path / "t"), df.schema, key=["k"], n_buckets=16
    )
    table.append(df)
    v_before = table.current_version()
    snap, stats = table.update({"tag": "'y'"}, where="k IN (7, 8)")
    assert stats["rows_updated"] == 2
    assert stats["rewritten_buckets"] < 16  # pruned: only matched buckets
    now = {r["k"]: r["tag"] for r in table.read().filter("k IN (6,7,8)").collect()}
    assert now == {6: "x", 7: "y", 8: "y"}
    old = {r["k"]: r["tag"] for r in table.read(version=v_before).filter("k IN (7,8)").collect()}
    assert old == {7: "x", 8: "x"}  # time travel sees pre-update rows


def test_merge_widens_types_from_batch(spark, tmp_path):
    """A CDC batch whose payload types are WIDER than the table's (int ->
    long, float -> double) evolves the table schema lazily: old files stay
    as written, reads cast-align, merged state is correct."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    narrow = T.StructType(
        [
            T.StructField("k", T.LongType()),
            T.StructField("cnt", T.IntegerType()),
            T.StructField("score", T.FloatType()),
        ]
    )
    table = LakeTable.create(
        spark, str(tmp_path / "t"), narrow, key=["k"], n_buckets=4
    )
    table.append(
        spark.createDataFrame([(1, 10, 0.5), (2, 20, 1.5)], narrow)
    )
    wide = spark.createDataFrame(
        [(2, 2**40, 2.5), (3, 30, 3.5)],
        "k long, cnt long, score double",
    ).withColumn("op", F.lit("U"))
    table.merge(wide, op_col="op")
    sch = {f.name: f.dataType.typeName() for f in table.schema.fields}
    assert sch["cnt"] == "long" and sch["score"] == "double"
    got = {r["k"]: (r["cnt"], r["score"]) for r in table.read().collect()}
    assert got[1] == (10, 0.5)          # old narrow file cast-aligned
    assert got[2] == (2**40, 2.5)       # widened value survives
    assert got[3] == (30, 3.5)


def test_table_changes_feed(spark, tmp_path):
    """Change-data-feed read: diff of two snapshots classifies inserts /
    updates / deletes with correct images and drops no-op rows."""
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], ["k", "v"]
    )
    table = LakeTable.create(
        spark, str(tmp_path / "t"), df.schema, key=["k"], n_buckets=4
    )
    table.append(df)
    v1 = table.current_version()
    batch = spark.createDataFrame(
        [(2, "B", "U"), (3, "c", "U"), (4, "d", "I"), (1, None, "D")],
        ["k", "v", "op"],
    )
    table.merge(batch, op_col="op")
    changes = {
        r["k"]: (r["v"], r["_change_type"])
        for r in table.table_changes(v1).collect()
    }
    assert changes == {
        1: ("a", "delete"),    # pre-image carried
        2: ("B", "update"),
        4: ("d", "insert"),
        # 3 re-upserted with identical payload -> no phantom update
    }


def test_table_changes_update_to_null_carries_null_post_image(spark, tmp_path):
    """An UPDATE that sets a payload column non-null -> NULL must emit the
    NULL post-image, never the stale old value (a per-column coalesce
    would); a NULL -> non-null update must surface symmetrically."""
    df = spark.createDataFrame([(1, "a"), (2, None)], "k int, v string")
    table = LakeTable.create(
        spark, str(tmp_path / "t"), df.schema, key=["k"], n_buckets=4
    )
    table.append(df)
    v1 = table.current_version()
    batch = spark.createDataFrame(
        [(1, None, "U"), (2, "b", "U")], "k int, v string, op string"
    )
    table.merge(batch, op_col="op")
    changes = {
        r["k"]: (r["v"], r["_change_type"])
        for r in table.table_changes(v1).collect()
    }
    assert changes == {1: (None, "update"), 2: ("b", "update")}


def test_incremental_downstream_via_change_feed(spark, tmp_path):
    """A downstream aggregate maintained INCREMENTALLY from table_changes
    must equal a full recompute after every upstream batch — the consumer
    loop the CDF exists for."""
    from pyspark.sql import functions as F

    from etl_spark.cdc import ChangelogSpec, generate_changelog
    from etl_spark.cdc.apply import apply_batch
    from etl_spark.cdc.changelog import TRANSCRIPTS_SCHEMA

    spec = ChangelogSpec(n_conversations=40, churn=2.0, n_partitions=2)
    pdf = generate_changelog(spec)
    table = LakeTable.create(
        spark, str(tmp_path / "t"), TRANSCRIPTS_SCHEMA,
        key=["conv_id", "turn_idx"], n_buckets=4, bucket_by=["conv_id"],
    )
    # downstream state: turns per conversation (dict as the consumer's
    # materialized view)
    downstream: dict[str, int] = {}
    last_v = table.current_version()
    ordered = pdf.sort_values("_seq")
    n = len(ordered)
    from etl_spark.cdc import CHANGELOG_SCHEMA

    for i, (lo, hi) in enumerate([(0, n // 3), (n // 3, 2 * n // 3), (2 * n // 3, n)]):
        chunk = ordered.iloc[lo:hi]
        apply_batch(
            spark,
            spark.createDataFrame(chunk.drop(columns=["_seq"]), CHANGELOG_SCHEMA),
            table, batch_id=i,
        )
        v = table.current_version()
        for r in table.table_changes(last_v, v).collect():
            delta = {"insert": 1, "delete": -1, "update": 0}[r["_change_type"]]
            downstream[r["conv_id"]] = downstream.get(r["conv_id"], 0) + delta
        last_v = v
        # consumer view == recompute from current table state
        truth = {
            r["conv_id"]: r["n"]
            for r in table.read().groupBy("conv_id").agg(F.count("*").alias("n")).collect()
        }
        assert {k: v for k, v in downstream.items() if v > 0} == truth


def test_table_changes_across_schema_evolution(spark, tmp_path):
    """An update that ONLY sets a column added after `from_version` must
    still surface in the change feed (old side aligns to the new schema
    with nulls)."""
    from pyspark.sql import functions as F

    df = spark.createDataFrame([(1, "a"), (2, "b")], ["k", "v"])
    table = LakeTable.create(
        spark, str(tmp_path / "t"), df.schema, key=["k"], n_buckets=2
    )
    table.append(df)
    v1 = table.current_version()
    evolved = spark.createDataFrame(
        [(1, "a", "T1")], "k long, v string, tool string"
    ).withColumn("op", F.lit("U"))
    table.merge(evolved, op_col="op")
    changes = {
        r["k"]: (r["v"], r["tool"], r["_change_type"])
        for r in table.table_changes(v1).collect()
    }
    assert changes == {1: ("a", "T1", "update")}  # k=2 untouched -> absent


# ---------------------------------------------------------------- zone maps

def _zm_table(spark, tmp_path):
    import datetime as dt

    schema = T.StructType([
        T.StructField("id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("v", T.DoubleType()),
        T.StructField("name", T.StringType()),
    ])
    t = LakeTable.create(
        spark, str(tmp_path / "zm"), schema, key=["id"], n_buckets=4,
        stats_cols=["ts", "v"],
    )
    def mk(day_lo, day_hi, base):
        rows = [
            (base + i,
             dt.datetime(2024, 1, day_lo) + dt.timedelta(
                 hours=i * (day_hi - day_lo) * 24 // 50),
             float(base + i), f"n{i}")
            for i in range(50)
        ]
        return spark.createDataFrame(rows, schema)
    t.append(mk(1, 5, 0))      # jan 1-5
    t.append(mk(10, 15, 100))  # jan 10-15
    t.append(mk(20, 25, 200))  # jan 20-25
    return t


def test_zone_map_prunes_time_range(spark, tmp_path):
    import datetime as dt

    t = _zm_table(spark, tmp_path)
    filters = [("ts", ">=", dt.datetime(2024, 1, 10)),
               ("ts", "<", dt.datetime(2024, 1, 16))]
    kept, total = t.files_matching(filters)
    assert total == 12 and len(kept) == 4  # only the jan 10-15 commit
    got = sorted(r["id"] for r in t.scan(filters).collect())
    want = sorted(
        r["id"] for r in t.read().filter(
            (F.col("ts") >= dt.datetime(2024, 1, 10))
            & (F.col("ts") < dt.datetime(2024, 1, 16))
        ).collect()
    )
    assert got == want and len(got) == 50


def test_zone_map_residual_filter_inside_file(spark, tmp_path):
    # predicate narrower than any file's range: pruning keeps the file,
    # the residual filter cuts the rows — results identical to full scan
    t = _zm_table(spark, tmp_path)
    got = sorted(r["id"] for r in t.scan([("v", ">=", 205.0)]).collect())
    assert got == list(range(205, 250))


def test_zone_map_survives_merge_and_time_travel(spark, tmp_path):
    import datetime as dt

    t = _zm_table(spark, tmp_path)
    v_before = t.current_version()
    src = spark.createDataFrame(
        [(105, dt.datetime(2024, 6, 1), 9999.0, "x", "U")],
        "id long, ts timestamp, v double, name string, op string",
    )
    t.merge(src, op_col="op")
    kept, total = t.files_matching([("v", "=", 9999.0)])
    assert len(kept) < total
    assert t.scan([("v", "=", 9999.0)]).count() == 1
    # the OLD snapshot still prunes with its own stats
    kept_old, _ = t.files_matching(
        [("ts", ">=", dt.datetime(2024, 1, 20))], version=v_before
    )
    assert len(kept_old) == 4


def test_zone_map_files_without_stats_kept_conservatively(spark, tmp_path):
    # a table created WITHOUT stats_cols: files_matching keeps everything
    df = spark.createDataFrame([(1, 1.0), (2, 2.0)], "id long, v double")
    t = LakeTable.create(spark, str(tmp_path / "ns"), df.schema, key=["id"],
                         n_buckets=2)
    t.append(df)
    kept, total = t.files_matching([("v", "=", 42.0)])
    assert len(kept) == total  # no stats -> no pruning, never wrong results
    assert t.scan([("v", "=", 42.0)]).count() == 0


def test_where_zone_filters_parser(spark, tmp_path):
    import datetime as dt

    from etl_spark.lake.table import _where_zone_filters

    t = _zm_table(spark, tmp_path)
    sch, sc = t.schema, ["ts", "v"]
    assert _where_zone_filters("ts < '2024-01-16'", sch, sc) == [
        ("ts", "<", dt.datetime(2024, 1, 16))
    ]
    got = _where_zone_filters(
        "v >= 100 AND ts < '2024-01-16' AND name = 'x'", sch, sc
    )
    assert got == [("v", ">=", 100.0), ("ts", "<", dt.datetime(2024, 1, 16))]
    # a top-level OR is one unparsable conjunct: no pruning, never wrong
    assert _where_zone_filters("v >= 100 OR v < 5", sch, sc) == []
    # parenthesized OR inside an AND: the other conjunct still prunes
    assert _where_zone_filters(
        "(name = 'a' OR name = 'b') AND v >= 100", sch, sc
    ) == [("v", ">=", 100.0)]
    # quoted ' AND ' must not split; non-string WHEREs contribute nothing
    assert _where_zone_filters("name = 'x AND y'", sch, sc) == []
    assert _where_zone_filters(None, sch, sc) == []
    assert _where_zone_filters(F.col("v") > 1, sch, sc) == []


def test_delete_and_update_probe_zone_pruned(spark, tmp_path, monkeypatch):
    """The match probe of DELETE WHERE / UPDATE goes through the
    zone-pruned scan when the predicate has prunable conjuncts — a TTL
    delete must not plan every live file — with identical results."""
    import datetime as dt

    import etl_spark.lake.table as lt

    t = _zm_table(spark, tmp_path)
    calls = []
    real_scan = lt.LakeTable.scan

    def spy(self, filters, version=None):
        calls.append(list(filters))
        return real_scan(self, filters, version)

    monkeypatch.setattr(lt.LakeTable, "scan", spy)
    # the predicate only overlaps the jan 1-5 commit's files
    kept, total = t.files_matching([("ts", "<", dt.datetime(2024, 1, 6))])
    assert len(kept) < total
    snap, stats = t.delete_where("ts < '2024-01-06'")
    assert stats["rows_deleted"] == 50
    # the TTL delete resolves ENTIRELY from zone maps: the jan 1-5 files
    # are dropped metadata-only, later files excluded driver-side — no
    # scan, no probe job over pruned files
    assert stats["dropped_files"] == len(kept)
    assert stats["rewritten_buckets"] == 0
    assert calls == []
    assert t.read().count() == 100

    calls.clear()
    snap, stats = t.update({"name": "'hot'"}, where="v >= 200.0")
    assert stats["rows_updated"] == 50
    assert calls and calls[0] == [("v", ">=", 200.0)]
    assert t.read().filter("name = 'hot'").count() == 50
    # unprunable predicate falls back to the full probe (scan not called)
    calls.clear()
    snap, stats = t.delete_where("name = 'hot'")
    assert calls == [] and stats["rows_deleted"] == 50


def test_zone_map_rejects_string_stats_col(spark, tmp_path):
    df = spark.createDataFrame([(1, "a")], "id long, name string")
    with pytest.raises(ValueError, match="non-prunable"):
        LakeTable.create(spark, str(tmp_path / "bad"), df.schema, key=["id"],
                         stats_cols=["name"])


# ------------------------------------------------------- guarded merge (LWW)

GUARD_SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType()),
        T.StructField("turn_idx", T.IntegerType()),
        T.StructField("text", T.StringType()),
        T.StructField("ts", T.LongType()),
        T.StructField("lsn", T.LongType()),
    ]
)

OPS = T.StructType(list(GUARD_SCHEMA.fields) + [T.StructField("op", T.StringType())])


def make_guard(spark, tmp_path):
    return LakeTable.create(
        spark, str(tmp_path / "g"), GUARD_SCHEMA,
        key=["conv_id", "turn_idx"], n_buckets=4, bucket_by=["conv_id"],
    )


def grows(t):
    return {
        (r.conv_id, r.turn_idx, r.text, r.ts, r.lsn) for r in t.read().collect()
    }


def test_guarded_merge_skips_stale_updates(spark, tmp_path):
    t = make_guard(spark, tmp_path)
    b1 = spark.createDataFrame(
        [("c1", 0, "new", 100, 10, "U"), ("c2", 0, "cur", 100, 11, "U")], OPS
    )
    t.merge(b1, op_col="op", lww_by=["ts", "lsn"])
    # out-of-order batch: stale update for c1, fresh for c2, brand-new key
    b2 = spark.createDataFrame(
        [
            ("c1", 0, "stale", 50, 5, "U"),
            ("c2", 0, "newer", 200, 12, "U"),
            ("c3", 0, "insert", 60, 6, "U"),
        ],
        OPS,
    )
    snap, stats = t.merge(b2, op_col="op", lww_by=["ts", "lsn"])
    assert grows(t) == {
        ("c1", 0, "new", 100, 10),
        ("c2", 0, "newer", 200, 12),
        ("c3", 0, "insert", 60, 6),
    }
    # only the two winners were applied
    assert stats["rows_applied"] == 2


def test_guarded_merge_tombstone_blocks_stale_resurrect(spark, tmp_path):
    t = make_guard(spark, tmp_path)
    t.merge(
        spark.createDataFrame([("c1", 0, "v1", 100, 10, "U")], OPS),
        op_col="op", lww_by=["ts", "lsn"],
    )
    # delete at ts=200 arrives first
    t.merge(
        spark.createDataFrame([("c1", 0, None, 200, 20, "D")], OPS),
        op_col="op", lww_by=["ts", "lsn"],
    )
    assert grows(t) == set()
    assert len(t.snapshot().tomb_files) == 1
    # older update (ts=150) arrives late: tombstone must win
    t.merge(
        spark.createDataFrame([("c1", 0, "late", 150, 15, "U")], OPS),
        op_col="op", lww_by=["ts", "lsn"],
    )
    assert grows(t) == set()
    # genuinely newer update resurrects the key
    t.merge(
        spark.createDataFrame([("c1", 0, "back", 300, 30, "U")], OPS),
        op_col="op", lww_by=["ts", "lsn"],
    )
    assert grows(t) == {("c1", 0, "back", 300, 30)}


def test_guarded_merge_replay_converges(spark, tmp_path):
    t = make_guard(spark, tmp_path)
    batch = spark.createDataFrame(
        [("c1", 0, "x", 100, 10, "U"), ("c2", 0, None, 100, 11, "D")], OPS
    )
    t.merge(batch, op_col="op", lww_by=["ts", "lsn"])
    before = grows(t)
    snap, stats = t.merge(batch, op_col="op", lww_by=["ts", "lsn"])
    # ties keep the target: a crash-replayed batch writes no new state
    assert grows(t) == before == {("c1", 0, "x", 100, 10)}
    assert stats["rows_applied"] == 0
    # replay did not mint a duplicate tombstone
    assert len(t.snapshot().tomb_files) == 1


def test_guarded_merge_no_leaked_cache(spark, tmp_path):
    before = set(spark.sparkContext._jsc.getPersistentRDDs().keySet())
    t = make_guard(spark, tmp_path)
    t.merge(
        spark.createDataFrame([("c1", 0, "a", 1, 1, "U")], OPS),
        op_col="op", lww_by=["ts", "lsn"],
    )
    t.merge(
        spark.createDataFrame([("c1", 0, "b", 2, 2, "U")], OPS),
        op_col="op", lww_by=["ts", "lsn"],
    )
    # no cached frames introduced by the guarded merges themselves (other
    # session users may hold their own caches)
    after = set(spark.sparkContext._jsc.getPersistentRDDs().keySet())
    assert after <= before


def test_compact_carries_then_drops_tombstones(spark, tmp_path):
    t = make_guard(spark, tmp_path)
    t.merge(
        spark.createDataFrame(
            [("c1", 0, "a", 100, 1, "U"), ("c2", 0, "b", 100, 2, "U")], OPS
        ),
        op_col="op", lww_by=["ts", "lsn"],
    )
    t.merge(
        spark.createDataFrame([("c1", 0, None, 200, 3, "D")], OPS),
        op_col="op", lww_by=["ts", "lsn"],
    )
    t.compact()
    assert len(t.snapshot().tomb_files) == 1  # carried across compaction
    assert grows(t) == {("c2", 0, "b", 100, 2)}
    t.compact(drop_tombstones=True)
    assert t.snapshot().tomb_files == []
    assert grows(t) == {("c2", 0, "b", 100, 2)}


def test_unguarded_merge_preserves_existing_tombstones(spark, tmp_path):
    t = make_guard(spark, tmp_path)
    t.merge(
        spark.createDataFrame([("c1", 0, None, 100, 1, "D")], OPS),
        op_col="op", lww_by=["ts", "lsn"],
    )
    assert len(t.snapshot().tomb_files) == 1
    # a plain (ordered-delivery) merge on the same bucket must not destroy
    # the guard metadata a later guarded merge depends on
    t.merge(
        spark.createDataFrame([("c9", 0, "x", 100, 2, "U")], OPS), op_col="op"
    )
    assert len(t.snapshot().tomb_files) == 1
    t.merge(
        spark.createDataFrame([("c1", 0, "stale", 50, 0, "U")], OPS),
        op_col="op", lww_by=["ts", "lsn"],
    )
    assert ("c1", 0, "stale", 50, 0) not in grows(t)


def test_rollback_restores_old_state_as_new_commit(spark, tmp_path):
    t = make(spark, tmp_path)
    t.append(spark.createDataFrame([("c1", 0, "v1")], SCHEMA))
    good = t.current_version()
    t.overwrite(spark.createDataFrame([("c9", 9, "bad")], SCHEMA))
    snap = t.rollback(good)
    assert snap.version == good + 2  # history stays linear
    assert snap.op == f"rollback({good})"
    assert rows(t.read()) == {("c1", 0, "v1")}
    # the bad version remains time-travelable until expiry
    assert rows(t.read(version=good + 1)) == {("c9", 9, "bad")}
    with pytest.raises(ValueError, match="future version"):
        t.rollback(snap.version + 5)
    # expiring old snapshots must not reclaim files the rollback head
    # re-references
    t.expire_snapshots(keep_last=1)
    assert rows(t.read()) == {("c1", 0, "v1")}


def _bloom_offsets(spark, full_path):
    """{column: bloomFilterOffset} from the parquet footer via parquet-mr
    (pyarrow does not expose bloom metadata)."""
    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()
    p = jvm.org.apache.hadoop.fs.Path("file:" + full_path)
    inf = jvm.org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(p, conf)
    reader = jvm.org.apache.parquet.hadoop.ParquetFileReader.open(inf)
    try:
        cols = reader.getFooter().getBlocks().get(0).getColumns()
        return {
            cols.get(i).getPath().toDotString(): cols.get(i).getBloomFilterOffset()
            for i in range(cols.size())
        }
    finally:
        reader.close()


def test_bloom_filter_cols_written_and_lookup_correct(spark, tmp_path):
    import os as _os

    t = LakeTable.create(
        spark, str(tmp_path / "b"), SCHEMA, key=["conv_id", "turn_idx"],
        n_buckets=2, bucket_by=["conv_id"],
        bloom_cols=["conv_id"], bloom_ndv=10_000,
    )
    t.append(
        spark.createDataFrame(
            [(f"c{i}", 0, f"t{i}") for i in range(200)], SCHEMA
        )
    )
    # merge path writes blooms too (the serving files of a CDC table)
    t.merge(
        spark.createDataFrame(
            [(f"c{i}", 0, f"u{i}", "U") for i in range(0, 200, 7)],
            T.StructType(list(SCHEMA.fields) + [T.StructField("op", T.StringType())]),
        ),
        op_col="op",
    )
    snap = t.snapshot()
    assert snap.bloom_cols == ["conv_id"]
    for e in snap.data_files:
        offs = _bloom_offsets(spark, _os.path.join(t.path, e["path"]))
        assert offs["conv_id"] >= 0, f"no bloom in {e['path']}"
        assert offs["text"] == -1  # only the declared columns pay the cost
    got = {
        (r.conv_id, r.text)
        for r in t.read_for_keys([("c7",), ("c8",)]).collect()
    }
    assert got == {("c7", "u7"), ("c8", "t8")}


# ----------------------------------------------------- maintenance at scale

def test_compact_sort_by_clusters_rows_in_file(spark, tmp_path):
    import os as _os

    import pyarrow.parquet as pq

    schema = T.StructType(
        [
            T.StructField("conv_id", T.StringType()),
            T.StructField("turn_idx", T.IntegerType()),
            T.StructField("ts", T.LongType()),
        ]
    )
    t = LakeTable.create(
        spark, str(tmp_path / "s"), schema, key=["conv_id", "turn_idx"],
        n_buckets=2, bucket_by=["conv_id"], stats_cols=["ts"],
    )
    # three appends in shuffled ts order -> many unsorted files
    for lo in (200, 0, 100):
        t.append(
            spark.createDataFrame(
                [(f"c{i % 7}", lo + i, 1000 - lo - i) for i in range(40)], schema
            )
        )
    t.compact(sort_by=["ts"])
    snap = t.snapshot()
    assert len(snap.data_files) <= snap.n_buckets
    for e in snap.data_files:
        col = pq.read_table(
            _os.path.join(t.path, e["path"]), columns=["ts"]
        )["ts"].to_pylist()
        assert col == sorted(col), f"{e['path']} not ts-clustered"
    assert t.read().count() == 120


def test_rebucket_preserves_state_and_guard(spark, tmp_path):
    t = make_guard(spark, tmp_path)
    t.merge(
        spark.createDataFrame(
            [(f"c{i}", 0, f"v{i}", 100, i, "U") for i in range(30)]
            + [("c0", 1, None, 200, 99, "D")],
            OPS,
        ),
        op_col="op", lww_by=["ts", "lsn"],
    )
    before = grows(t)
    snap = t.rebucket(16)
    assert snap.n_buckets == 16
    assert grows(t) == before
    # manifest bucket ids follow the new layout (drives merge pruning)
    assert {f["bucket"] for f in snap.files} <= set(range(16))
    # tombstones survived the rewrite and still block a stale resurrect
    assert len(snap.tomb_files) >= 1
    t.merge(
        spark.createDataFrame([("c0", 1, "stale", 150, 98, "U")], OPS),
        op_col="op", lww_by=["ts", "lsn"],
    )
    assert ("c0", 1, "stale", 150, 98) not in grows(t)
    # merges keep working against the new bucketing
    t.merge(
        spark.createDataFrame([("c5", 0, "upd", 300, 100, "U")], OPS),
        op_col="op", lww_by=["ts", "lsn"],
    )
    assert ("c5", 0, "upd", 300, 100) in grows(t)


def test_vacuum_removes_orphans_keeps_referenced(spark, tmp_path):
    import os as _os

    t = make(spark, tmp_path)
    t.append(spark.createDataFrame([("c1", 0, "keep")], SCHEMA))
    # simulate a crashed write: files on disk, never committed
    df = spark.createDataFrame([("c9", 9, "orphan")], SCHEMA).withColumn(
        "__bucket", F.lit(0)
    )
    t._write_data_files(t.snapshot(), df, n_buckets=1)
    n_parquet = sum(
        len([n for n in names if n.endswith(".parquet")])
        for _, _, names in _os.walk(_os.path.join(t.path, "data"))
    )
    assert t.vacuum(older_than_s=3600) == 0  # age guard: too fresh
    removed = t.vacuum(older_than_s=0)
    assert removed >= 1
    assert rows(t.read()) == {("c1", 0, "keep")}
    n_after = sum(
        len([n for n in names if n.endswith(".parquet")])
        for _, _, names in _os.walk(_os.path.join(t.path, "data"))
    )
    assert n_after == n_parquet - removed


def test_compact_zorder_clusters_both_dimensions(spark, tmp_path):
    """Z-order compaction: consecutive row runs must be tight in BOTH
    listed columns simultaneously (a linear sort gives that only for its
    leading column — the trailing column's per-run range stays ~full)."""
    import os as _os

    import pyarrow.parquet as pq

    schema = T.StructType(
        [
            T.StructField("id", T.IntegerType()),
            T.StructField("x", T.IntegerType()),
            T.StructField("y", T.IntegerType()),
        ]
    )

    def chunk_area(table_path_cols, n_chunks=16):
        xs, ys = table_path_cols
        n = len(xs)
        step = max(1, n // n_chunks)
        areas = []
        for i in range(0, n - step + 1, step):
            cx = xs[i:i + step]
            cy = ys[i:i + step]
            areas.append((max(cx) - min(cx) + 1) * (max(cy) - min(cy) + 1))
        return sum(areas) / len(areas)

    rows = [(i, i % 32, (i * 17) % 32) for i in range(1024)]  # full 32x32 grid
    results = {}
    for mode in ("zorder", "linear"):
        t = LakeTable.create(
            spark, str(tmp_path / mode), schema, key=["id"], n_buckets=1
        )
        t.append(spark.createDataFrame(rows, schema))
        if mode == "zorder":
            t.compact(zorder_by=["x", "y"])
        else:
            t.compact(sort_by=["x"])
        e = t.snapshot().data_files[0]
        tbl = pq.read_table(
            _os.path.join(t.path, e["path"]), columns=["x", "y"]
        )
        results[mode] = chunk_area(
            (tbl["x"].to_pylist(), tbl["y"].to_pylist())
        )
    # full grid area is 1024; a 64-row z-curve run covers ~an 8x8 tile
    # (~64), a linear-x run covers a 2-col x full-y stripe (~64 x-tight
    # but y-wide). Require z-order to beat linear on the COMBINED area.
    assert results["zorder"] < results["linear"] * 0.5, results
    with pytest.raises(ValueError, match="not both"):
        LakeTable.load(spark, str(tmp_path / "zorder")).compact(
            sort_by=["x"], zorder_by=["x", "y"]
        )


def test_merge_with_retry_survives_commit_race(spark, tmp_path):
    """Two writers race for the same snapshot version: the loser's
    CommitConflict must trigger a recompute on top of the winner's
    state — both writes land, serialized."""
    t = make(spark, tmp_path)
    t.append(spark.createDataFrame([("c1", 0, "base")], SCHEMA))
    t2 = LakeTable.load(spark, t.path)

    orig = t._write_snapshot
    raced = {"done": False}

    def racy(snap):
        if not raced["done"]:
            raced["done"] = True
            # competing writer commits THIS version first
            t2.append(spark.createDataFrame([("c9", 9, "winner")], SCHEMA))
        return orig(snap)

    t._write_snapshot = racy
    ops = T.StructType(list(SCHEMA.fields) + [T.StructField("op", T.StringType())])
    try:
        snap, stats = t.merge_with_retry(
            spark.createDataFrame([("c1", 0, "merged", "U")], ops),
            op_col="op",
        )
    finally:
        t._write_snapshot = orig
    assert raced["done"] and stats["rows_applied"] == 1
    got = rows(t.read())
    assert ("c9", 9, "winner") in got      # winner's row survived
    assert ("c1", 0, "merged") in got      # loser recomputed and landed
    assert len(got) == 2
    # the losing attempt's stranded data files are vacuum-reclaimable
    assert t.vacuum(older_than_s=0.0) >= 1


def test_concurrent_writers_serialize_through_retry(spark, tmp_path):
    """Four writers merging concurrently into the same table through
    merge_with_retry: the O_EXCL commit race must serialize them into a
    linear history with every batch applied exactly once."""
    import os
    import threading

    t = make(spark, tmp_path)
    errors: list[Exception] = []

    def writer(w: int):
        try:
            handle = LakeTable.load(spark, t.path)
            ops = T.StructType(
                list(SCHEMA.fields) + [T.StructField("op", T.StringType())]
            )
            for b in range(3):
                handle.merge_with_retry(
                    spark.createDataFrame(
                        [(f"w{w}", b, f"t{w}-{b}", "U")], ops
                    ),
                    op_col="op",
                    attempts=10,
                )
        except Exception as e:  # noqa: BLE001 - surfaced via main thread
            errors.append(e)

    threads = [threading.Thread(target=writer, args=(w,)) for w in range(4)]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    assert errors == []
    got = rows(t.read())
    assert got == {(f"w{w}", b, f"t{w}-{b}") for w in range(4) for b in range(3)}
    # linear history: every version 0..current exists exactly once
    v = t.current_version()
    assert v == 12  # create + 12 serialized merges
    assert all(os.path.exists(t._snap_path(i)) for i in range(v + 1))


def test_purge_erases_subject_from_disk_and_history(spark, tmp_path):
    """RTBF purge: after purging a conversation, its bytes must be gone
    from EVERY file on disk (not just the current snapshot) — including
    guarded-merge tombstones carrying the key — while unrelated rows and
    the table's forward operation are untouched."""
    import os as _os

    t = make_guard(spark, tmp_path)  # guarded table: lww_by + tombstones
    t.merge(
        spark.createDataFrame(
            [
                ("secret-conv", 0, "the secret text", 1, 1, "U"),
                ("secret-conv", 1, "more secret", 1, 2, "U"),
                ("keep-conv", 0, "public", 1, 3, "U"),
            ],
            OPS,
        ),
        op_col="op", lww_by=["ts", "lsn"],
    )
    # update -> old version lives in history; delete -> tombstone w/ key
    t.merge(
        spark.createDataFrame(
            [("secret-conv", 0, "rewritten secret", 2, 4, "U")], OPS
        ),
        op_col="op", lww_by=["ts", "lsn"],
    )
    t.merge(
        spark.createDataFrame(
            [("secret-conv", 1, None, 3, 5, "D")], OPS
        ),
        op_col="op", lww_by=["ts", "lsn"],
    )
    assert t.snapshot().tomb_files  # the delete left a tombstone
    r = t.purge("conv_id = 'secret-conv'")
    assert r["rows_purged"] == 1  # the one live secret row
    # live state: only the unrelated conversation remains
    left = t.read().collect()
    assert [(x["conv_id"], x["text"]) for x in left] == [("keep-conv", "public")]
    # DISK-LEVEL: no parquet file anywhere still contains the subject
    for root, _d, names in _os.walk(_os.path.join(t.path, "data")):
        for n in names:
            if not n.endswith(".parquet"):
                continue
            raw = open(_os.path.join(root, n), "rb").read()
            assert b"secret" not in raw, f"{n} still holds purged bytes"
    # history collapsed to the purge commit (erasure XOR time travel)
    assert len(t.history()) == 1
    # the table still works after the purge
    t.merge(
        spark.createDataFrame([("new-conv", 0, "hello", 9, 9, "U")], OPS),
        op_col="op", lww_by=["ts", "lsn"],
    )
    assert t.read().count() == 2


def test_purge_no_match_keeps_history(spark, tmp_path):
    t = make(spark, tmp_path)
    t.append(spark.createDataFrame([("c1", 0, "a")], SCHEMA))
    t.append(spark.createDataFrame([("c2", 0, "b")], SCHEMA))
    n_hist = len(t.history())
    r = t.purge("conv_id = 'nobody'")
    assert r == {"rows_purged": 0, "rewritten_buckets": 0, "files_removed": 0}
    assert len(t.history()) == n_hist  # untouched: no bytes to erase


# --------------------------------------------------------------------- DDL

def test_add_and_drop_column_metadata_only(spark, tmp_path):
    t = make(spark, tmp_path)
    t.append(spark.createDataFrame([("c1", 0, "hi")], SCHEMA))
    t.add_column("tool", "string")
    assert [f.name for f in t.schema.fields] == [
        "conv_id", "turn_idx", "text", "tool"
    ]
    assert t.read().filter("tool IS NULL").count() == 1  # old files -> NULL
    with pytest.raises(SchemaEvolutionError, match="already exists"):
        t.add_column("text", "string")
    t.drop_column("tool")
    assert "tool" not in t.read().columns
    # time travel still sees the pre-drop projection
    with pytest.raises(ValueError, match="key/bucket"):
        t.drop_column("conv_id")


def test_drop_column_reintroduction_guard(spark, tmp_path):
    t = make(spark, tmp_path)
    t.append(spark.createDataFrame([("c1", 0, "secret")], SCHEMA))
    t.drop_column("text")
    # the bytes still live in a referenced file: re-adding the name would
    # resurrect them into the "new" column
    with pytest.raises(SchemaEvolutionError, match="compact"):
        t.add_column("text", "string")
    ops = T.StructType(
        [
            T.StructField("conv_id", T.StringType()),
            T.StructField("turn_idx", T.IntegerType()),
            T.StructField("text", T.StringType()),
            T.StructField("op", T.StringType()),
        ]
    )
    with pytest.raises(SchemaEvolutionError, match="compact"):
        t.merge(spark.createDataFrame([("c2", 0, "x", "U")], ops), op_col="op")
    # compaction rewrites live rows under the current (dropped) schema;
    # the name is then safe to reuse and reads as NULL everywhere
    t.compact()
    t.add_column("text", "string")
    assert t.read().filter("text IS NULL").count() == 1


def test_named_refs_pin_and_protect_snapshots(spark, tmp_path):
    """create_ref pins a version: read(ref=) resolves it by name, expiry
    retains the pinned snapshot (files + manifests) until drop_ref."""
    t = make(spark, tmp_path)
    t.append(spark.createDataFrame([("c1", 0, "v1")], SCHEMA))
    tagged = t.current_version()
    assert t.create_ref("release-1") == tagged
    t.overwrite(spark.createDataFrame([("c2", 2, "v2")], SCHEMA))
    t.overwrite(spark.createDataFrame([("c3", 3, "v3")], SCHEMA))
    assert rows(t.read(ref="release-1")) == {("c1", 0, "v1")}
    assert t.refs() == {"release-1": tagged}
    # expiry keeps ONLY the newest + the pinned version
    t.expire_snapshots(keep_last=1)
    assert rows(t.read(ref="release-1")) == {("c1", 0, "v1")}
    assert rows(t.read()) == {("c3", 3, "v3")}
    # the unpinned middle version is gone
    with pytest.raises(FileNotFoundError):
        t.snapshot(tagged + 1)
    # double-create fails; unknown drop fails; bad name fails
    with pytest.raises(FileExistsError):
        t.create_ref("release-1")
    with pytest.raises(FileNotFoundError):
        t.drop_ref("nope")
    with pytest.raises(ValueError, match="must match"):
        t.create_ref("bad name!")
    with pytest.raises(ValueError, match="at most one"):
        t.read(version=0, ref="release-1")
    # dropping the ref releases the pin: next expiry reclaims it
    t.drop_ref("release-1")
    t.expire_snapshots(keep_last=1)
    with pytest.raises(FileNotFoundError):
        t.read(ref="release-1")
    with pytest.raises(FileNotFoundError):
        t.snapshot(tagged)
    assert rows(t.read()) == {("c3", 3, "v3")}


def test_delete_where_is_snapshot_preserving(spark, tmp_path):
    """DELETE WHERE rewrites only matching buckets, keeps history
    time-travelable (unlike purge), and composes with a patch backlog."""
    t = make(spark, tmp_path, n_buckets=4)
    t.append(spark.createDataFrame(
        [(f"c{i}", i, f"v{i}") for i in range(8)], SCHEMA))
    v0 = t.current_version()
    snap, stats = t.delete_where("turn_idx >= 5")
    assert stats["rows_deleted"] == 3
    assert {r.turn_idx for r in t.read().collect()} == set(range(5))
    # history preserved
    assert len(rows(t.read(version=v0))) == 8
    # no-match fast path: nothing rewritten, no commit
    snap2, stats2 = t.delete_where("turn_idx > 99")
    assert snap2 is None and stats2["rewritten_buckets"] == 0
    assert t.current_version() == snap.version


# ----------------------------------------------------------- changed_only
def test_changed_only_elides_state_noops(spark, tmp_path):
    """Change detection: identical full images and deletes of absent keys
    are dropped; real changes, NULL transitions and existing-key deletes
    are kept. NULL == NULL compares equal (eqNullSafe)."""
    t = make(spark, tmp_path, n_buckets=8)
    t.append(
        spark.createDataFrame(
            [("a", 0, "x"), ("b", 0, None), ("c", 0, "z")], SCHEMA
        )
    )
    batch_schema = T.StructType(
        [T.StructField("op", T.StringType())] + list(SCHEMA.fields)
    )
    batch = spark.createDataFrame(
        [
            ("U", "a", 0, "x"),      # identical image -> drop
            ("U", "b", 0, None),     # NULL == NULL -> drop
            ("U", "c", 0, "z2"),     # real change -> keep
            ("U", "d", 0, "new"),    # new key -> keep
            ("D", "a", 0, None),     # delete existing -> keep
            ("D", "zz", 9, None),    # delete absent -> drop
        ],
        batch_schema,
    )
    kept = t.changed_only(batch, op_col="op")
    got = {(r.op, r.conv_id) for r in kept.collect()}
    assert got == {("U", "c"), ("U", "d"), ("D", "a")}


def test_changed_only_null_transition_applies(spark, tmp_path):
    t = make(spark, tmp_path, n_buckets=4)
    t.append(spark.createDataFrame([("a", 0, "x"), ("b", 0, None)], SCHEMA))
    batch = spark.createDataFrame([("a", 0, None), ("b", 0, "v")], SCHEMA)
    kept = t.changed_only(batch)
    assert {(r.conv_id, r.text) for r in kept.collect()} == {
        ("a", None), ("b", "v")
    }


def test_changed_only_missing_source_col_counts_as_null(spark, tmp_path):
    """The merge writes the source ALIGNED to the table schema, so a
    source lacking a table column would null it out — that is a change
    whenever the stored value is non-null."""
    t = make(spark, tmp_path, n_buckets=4)
    t.append(spark.createDataFrame([("a", 0, "x"), ("b", 0, None)], SCHEMA))
    narrow = T.StructType([f for f in SCHEMA.fields if f.name != "text"])
    batch = spark.createDataFrame([("a", 0), ("b", 0)], narrow)
    kept = t.changed_only(batch)
    # a: stored text "x" vs aligned NULL -> change; b: NULL vs NULL -> noop
    assert {r.conv_id for r in kept.collect()} == {"a"}


def test_changed_only_compare_cols_subset(spark, tmp_path):
    wide = T.StructType(
        list(SCHEMA.fields) + [T.StructField("updated_at", T.LongType())]
    )
    t = LakeTable.create(
        spark, str(tmp_path / "t"), wide, key=["conv_id", "turn_idx"],
        n_buckets=4, bucket_by=["conv_id"],
    )
    t.append(spark.createDataFrame([("a", 0, "x", 1)], wide))
    batch = spark.createDataFrame([("a", 0, "x", 2)], wide)
    # full comparison: updated_at churned -> change
    assert t.changed_only(batch).count() == 1
    # ignore the churn column -> state no-op
    assert t.changed_only(batch, compare_cols=["text"]).count() == 0
    with pytest.raises(ValueError, match="not in the evolved schema"):
        t.changed_only(batch, compare_cols=["nope"])


def test_merge_with_changed_only_skips_unchanged_buckets(spark, tmp_path):
    """All-unchanged batch -> zero commit; mixed batch rewrites ONLY the
    buckets holding real changes (write-amplification contract)."""
    t = make(spark, tmp_path, n_buckets=8)
    seed = [(f"c{i}", 0, f"t{i}") for i in range(64)]
    t.append(spark.createDataFrame(seed, SCHEMA))
    v1 = t.current_version()

    resend = spark.createDataFrame(seed, SCHEMA).withColumn("op", F.lit("U"))
    snap, stats = t.merge(t.changed_only(resend, op_col="op"), op_col="op")
    assert snap is None and stats["source_rows"] == 0
    assert t.current_version() == v1

    # one real change + 63 re-sends: only the changed key's bucket rewrites
    mixed = spark.createDataFrame(
        [("c0", 0, "CHANGED")] + seed[1:], SCHEMA
    ).withColumn("op", F.lit("U"))
    snap, stats = t.merge(t.changed_only(mixed, op_col="op"), op_col="op")
    assert stats["source_rows"] == 1
    assert stats["rewritten_buckets"] == 1
    assert t.read().filter("conv_id = 'c0'").collect()[0].text == "CHANGED"
    assert t.row_count() == 64


def test_apply_batch_skip_unchanged_converges_and_advances_watermarks(
    spark, tmp_path
):
    """apply_batch(skip_unchanged=True): re-sent batches elide no-ops but
    watermarks STILL advance (an all-unchanged batch must not stall the
    resume point), and final state equals the plain apply."""
    from etl_spark.cdc.apply import apply_batch
    from etl_spark.cdc.state import WatermarkStore

    sch = T.StructType(
        [
            T.StructField("op", T.StringType()),
            T.StructField("lsn", T.LongType()),
            T.StructField("source_partition", T.IntegerType()),
            T.StructField("ts", T.TimestampType()),
        ]
        + list(SCHEMA.fields)
    )
    import datetime as dt

    ts0 = dt.datetime(2024, 1, 1, 12, 0, 0)
    b1 = [
        ("U", 1, 0, ts0, "a", 0, "x"),
        ("U", 2, 0, ts0, "b", 0, "y"),
    ]
    # b2 re-sends b1 verbatim (higher LSNs) + one real change
    b2 = [
        ("U", 3, 0, ts0, "a", 0, "x"),
        ("U", 4, 0, ts0, "b", 0, "y2"),
    ]
    t = make(spark, tmp_path, n_buckets=4)
    wm = WatermarkStore(str(tmp_path / "wm"))
    vals = [("op_known", F.col("op").isin("I", "U", "D"))]
    apply_batch(
        spark, spark.createDataFrame(b1, sch), t, batch_id=1,
        watermark_store=wm, skip_unchanged=True, validators=vals,
    )
    v_after_b1 = t.current_version()
    stats = apply_batch(
        spark, spark.createDataFrame(b2, sch), t, batch_id=2,
        watermark_store=wm, skip_unchanged=True, validators=vals,
    )
    assert stats["rows_applied"] == 1  # only b's real change
    assert stats["rows_unchanged_skipped"] == 1
    assert wm.get_all()[0] == 4  # watermark advanced past the no-op rows
    assert t.current_version() == v_after_b1 + 1
    got = {(r.conv_id, r.text) for r in t.read().collect()}
    assert got == {("a", "x"), ("b", "y2")}

    # a 100%-no-op batch: zero commit, watermark still advances
    b3 = [("U", 5, 0, ts0, "a", 0, "x")]
    stats = apply_batch(
        spark, spark.createDataFrame(b3, sch), t, batch_id=3,
        watermark_store=wm, skip_unchanged=True, validators=vals,
    )
    assert stats["rows_applied"] == 0
    assert t.current_version() == v_after_b1 + 1
    assert wm.get_all()[0] == 5


def test_changed_only_guarded_keeps_absent_deletes(spark, tmp_path):
    """lww_by tables: a delete of an ABSENT key is NOT a state no-op —
    it must reach the merge and write its tombstone, or a later-arriving
    stale upsert resurrects the row. changed_only(drop_absent_deletes=
    False) keeps it; apply_batch wires that automatically."""
    t = make_guard(spark, tmp_path)
    # D arrives first (key never existed), newest order ts=200
    d = spark.createDataFrame([("k", 0, None, 200, 20, "D")], OPS)
    kept = t.changed_only(d, op_col="op", drop_absent_deletes=False)
    assert kept.count() == 1  # default (True) would drop it
    t.merge(kept, op_col="op", lww_by=["ts", "lsn"])
    assert len(t.snapshot().tomb_files) == 1
    # the late stale upsert (ts=150) must lose to the tombstone — even
    # through the change-detection filter
    late = spark.createDataFrame([("k", 0, "stale", 150, 15, "U")], OPS)
    t.merge(
        t.changed_only(late, op_col="op", drop_absent_deletes=False),
        op_col="op", lww_by=["ts", "lsn"],
    )
    assert grows(t) == set()  # delete is newest: k stays deleted

    # end-to-end: apply_batch(skip_unchanged=True, merge_lww_by=...)
    # makes the same guarantee without the caller passing the flag
    from etl_spark.cdc.apply import apply_batch

    t2 = LakeTable.create(
        spark, str(tmp_path / "g2"), GUARD_SCHEMA,
        key=["conv_id", "turn_idx"], n_buckets=4, bucket_by=["conv_id"],
    )
    vals = [("op_known", F.col("op").isin("I", "U", "D"))]
    apply_batch(
        spark, spark.createDataFrame([("k", 0, None, 200, 20, "D")], OPS),
        t2, batch_id=1, skip_unchanged=True, merge_lww_by=["ts", "lsn"],
        validators=vals,
    )
    assert len(t2.snapshot().tomb_files) == 1
    apply_batch(
        spark, spark.createDataFrame([("k", 0, "stale", 150, 15, "U")], OPS),
        t2, batch_id=2, skip_unchanged=True, merge_lww_by=["ts", "lsn"],
        validators=vals,
    )
    assert grows(t2) == set()


def test_merge_with_retry_pre_filter_recomputes_against_winner(
    spark, tmp_path
):
    """TOCTOU guard: a snapshot-dependent pre-filter (changed_only) must
    be re-applied to the RAW source on every retry attempt, so after a
    lost commit race the filter compares against the WINNER's state —
    passing a pre-filtered frame instead would pin the comparison to the
    pre-conflict snapshot and silently drop rows the winner changed."""
    t = make(spark, tmp_path)
    t.append(
        spark.createDataFrame([("c1", 0, "base1"), ("c2", 0, "base2")], SCHEMA)
    )
    t2 = LakeTable.load(spark, t.path)
    ops = T.StructType(list(SCHEMA.fields) + [T.StructField("op", T.StringType())])

    orig = t._write_snapshot
    raced = {"done": False}

    def racy(snap):
        if not raced["done"]:
            raced["done"] = True
            # the winner changes c2 between loser's filter and commit
            t2.merge(
                spark.createDataFrame([("c2", 0, "X2", "U")], ops),
                op_col="op",
            )
        return orig(snap)

    t._write_snapshot = racy
    # loser's batch: c1 genuinely new (forces a commit -> conflict),
    # c2 equal to the PRE-race stored value (stale filter would drop it)
    batch = spark.createDataFrame(
        [("c1", 0, "new1", "U"), ("c2", 0, "base2", "U")], ops
    )
    try:
        snap, stats = t.merge_with_retry(
            batch, op_col="op",
            pre_filter=lambda src: t.changed_only(src, op_col="op"),
        )
    finally:
        t._write_snapshot = orig
    assert raced["done"]
    # c2's write must NOT be lost: the retry recomputed the filter
    # against the winner's X2 and kept the row
    assert rows(t.read()) == {("c1", 0, "new1"), ("c2", 0, "base2")}


def test_metadata_tables_match_manifests(spark, tmp_path):
    """files/snapshots/partitions metadata DataFrames agree with the
    manifest ground truth and are SQL-queryable — never a data read."""
    t = make(spark, tmp_path)
    t.append(spark.createDataFrame(
        [(f"c{i}", 0, "x") for i in range(12)], SCHEMA))
    op_schema = T.StructType(
        SCHEMA.fields + [T.StructField("op", T.StringType())]
    )
    t.merge(spark.createDataFrame(
        [("c0", 0, "y", "U"), ("c1", 0, None, "D")], op_schema),
        op_col="op", mode="mor")
    snap = t.snapshot()

    files = t.metadata_df("files")
    files.createOrReplaceTempView("t_files")
    got = {
        (r.path, r.bucket, r.kind, r.rows)
        for r in files.collect()
    }
    assert got == {
        (e["path"], e["bucket"], e.get("kind", "data"), e.get("rows", 0))
        for e in snap.files
    }
    # SQL over metadata: live bytes of mor shadow sources
    backlog = spark.sql(
        "SELECT coalesce(sum(rows),0) AS r FROM t_files WHERE "
        "kind = 'eqdel' OR is_mor_shadow"
    ).collect()[0]["r"]
    assert backlog == sum(
        f.get("rows", 0) for f in snap.delete_source_files
    )

    snaps = {r.version: r for r in t.metadata_df("snapshots").collect()}
    assert set(snaps) == {s.version for s in t.history()}
    assert snaps[snap.version].op == snap.op
    assert snaps[snap.version].data_rows == snap.total_rows
    assert snaps[snap.version].mor_backlog_rows == backlog

    parts = {r.bucket: r for r in t.metadata_df("partitions").collect()}
    assert sum(p.data_rows for p in parts.values()) == snap.total_rows
    assert sum(p.backlog_rows for p in parts.values()) == backlog
    # version pinning reaches the pre-merge snapshot
    v0_rows = t.metadata_df("files", version=snap.version - 1).collect()
    assert all(r.kind == "data" for r in v0_rows)

    import pytest as _pytest
    with _pytest.raises(ValueError):
        t.metadata_df("nope")


def test_compact_target_file_rows_splits_oversized_bucket(spark, tmp_path):
    """target_file_rows rolls an oversized bucket into multiple files
    (within-bucket scan parallelism); state and manifests stay exact."""
    t = make(spark, tmp_path, n_buckets=2)
    data = [(f"c{i}", j, f"x{i}-{j}") for i in range(8) for j in range(25)]
    t.append(spark.createDataFrame(data, SCHEMA))
    before = rows(t.read())
    t.compact(target_file_rows=40)
    snap = t.snapshot()
    per = {}
    for f in snap.data_files:
        per.setdefault(f["bucket"], []).append(f.get("rows", 0))
    # every occupied bucket holds >40 rows total -> must have split
    assert all(len(v) >= 2 for v in per.values())
    assert all(r <= 40 for v in per.values() for r in v)
    assert sum(r for v in per.values() for r in v) == len(data)
    assert rows(t.read()) == before
    # default (5M) packs each bucket back to one file
    t.compact()
    assert all(
        len([f for f in t.snapshot().data_files if f["bucket"] == b]) == 1
        for b in per
    )
    assert rows(t.read()) == before


# -------------------------------------------------------- write_sort_by

def test_write_sort_by_clusters_every_write_path(spark, tmp_path):
    import os

    """VERDICT r4 #5: ingest-time sort-on-write. Every data write of a
    write_sort_by=["ts"] table lands physically ts-sorted within each
    file — append, churn MERGE survivors and rebucket included — so
    row-group/zone stats stay tight ranges on a churned, NEVER-compacted
    table instead of degrading until the next maintenance tick."""
    import datetime as dt

    import pyarrow.parquet as papq

    schema = T.StructType([
        T.StructField("id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("v", T.DoubleType()),
    ])
    t = LakeTable.create(
        spark, str(tmp_path / "srt"), schema, key=["id"], n_buckets=2,
        stats_cols=["ts"], write_sort_by=["ts"],
    )
    base = dt.datetime(2024, 1, 1)

    def mk(ids, shuffle_seed):
        import random

        rows = [
            (i, base + dt.timedelta(hours=i % 240), float(i)) for i in ids
        ]
        random.Random(shuffle_seed).shuffle(rows)  # arrival order ≠ ts order
        return spark.createDataFrame(rows, schema)

    t.append(mk(range(200), 1))
    # churn: updates sampled across the whole time range, twice
    ops = T.StructType(list(schema.fields) + [T.StructField("op", T.StringType())])
    for seed in (2, 3):
        upd = mk(range(seed, 200, 7), seed).withColumn("op", F.lit("U"))
        t.merge(spark.createDataFrame(upd.collect(), ops), op_col="op")

    def assert_files_sorted(tab):
        snap = tab.snapshot()
        for e in snap.data_files:
            pf = papq.read_table(
                os.path.join(tab.path, e["path"]), columns=["ts"]
            )
            vals = pf.column("ts").to_pylist()
            assert vals == sorted(vals), e["path"]

    assert_files_sorted(t)
    t.rebucket(4)
    assert_files_sorted(t)
    # reload from disk: the property persists
    t2 = LakeTable.load(spark, str(tmp_path / "srt"))
    assert t2.snapshot().write_sort_by == ["ts"]
    assert_files_sorted(t2)

    # control: without the property the same churn interleaves ts
    c = LakeTable.create(
        spark, str(tmp_path / "ctl"), schema, key=["id"], n_buckets=2,
        stats_cols=["ts"],
    )
    c.append(mk(range(200), 1))
    interleaved = False
    for e in c.snapshot().data_files:
        vals = papq.read_table(
            os.path.join(c.path, e["path"]), columns=["ts"]
        ).column("ts").to_pylist()
        interleaved |= vals != sorted(vals)
    assert interleaved


def test_write_sort_by_validates_and_preserves_results(spark, tmp_path):
    import datetime as dt

    schema = T.StructType([
        T.StructField("id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
    ])
    with pytest.raises(ValueError, match="write_sort_by"):
        LakeTable.create(
            spark, str(tmp_path / "bad"), schema, key=["id"],
            write_sort_by=["nope"],
        )
    t = LakeTable.create(
        spark, str(tmp_path / "ok"), schema, key=["id"], n_buckets=2,
        write_sort_by=["ts"],
    )
    rows = [(i, dt.datetime(2024, 1, 1 + i % 5)) for i in range(40)]
    t.append(spark.createDataFrame(rows, schema))
    assert sorted((r["id"], r["ts"]) for r in t.read().collect()) == sorted(rows)


def test_write_max_rows_per_file_rolls_every_write(spark, tmp_path):
    """Ingest-time file rolling: a seed append (and later merges) split
    bucket files at the configured row count, so a jumbo load never
    produces a single-scan-task file; property persists across reload;
    results identical."""
    schema = T.StructType([
        T.StructField("id", T.LongType()),
        T.StructField("v", T.DoubleType()),
    ])
    t = LakeTable.create(
        spark, str(tmp_path / "roll"), schema, key=["id"], n_buckets=2,
        write_max_rows_per_file=100,
    )
    rows = [(i, float(i)) for i in range(1000)]
    t.append(spark.createDataFrame(rows, schema))
    snap = t.snapshot()
    per_bucket = {}
    for e in snap.data_files:
        per_bucket.setdefault(e["bucket"], []).append(e["rows"])
    assert set(per_bucket) == {0, 1}
    for b, counts in per_bucket.items():
        assert len(counts) >= 4, (b, counts)  # ~500 rows rolled at 100
        assert max(counts) <= 100
    assert sorted((r["id"], r["v"]) for r in t.read().collect()) == rows

    # merge keeps rolling; reload sees the property
    t2 = LakeTable.load(spark, str(tmp_path / "roll"))
    assert t2.snapshot().write_max_rows_per_file == 100
    ops = T.StructType(list(schema.fields) + [T.StructField("op", T.StringType())])
    t2.merge(
        spark.createDataFrame([(i, -1.0, "U") for i in range(0, 1000, 2)], ops),
        op_col="op",
    )
    snap2 = t2.snapshot()
    assert max(e["rows"] for e in snap2.data_files) <= 100
    got = {r["id"]: r["v"] for r in t2.read().collect()}
    assert got[0] == -1.0 and got[1] == 1.0 and len(got) == 1000


def test_compact_defaults_to_table_file_bound(spark, tmp_path):
    """compact() without an explicit target keeps the table's ingest
    file bound — maintenance never undoes the write-time layout."""
    schema = T.StructType([
        T.StructField("id", T.LongType()),
        T.StructField("v", T.DoubleType()),
    ])
    t = LakeTable.create(
        spark, str(tmp_path / "cb"), schema, key=["id"], n_buckets=1,
        write_max_rows_per_file=100,
    )
    for k in range(3):
        t.append(spark.createDataFrame(
            [(k * 1000 + i, float(i)) for i in range(250)], schema
        ))
    t.compact()
    snap = t.snapshot()
    assert max(e["rows"] for e in snap.data_files) <= 100
    assert t.row_count() == 750
