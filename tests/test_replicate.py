"""Whole-catalog replication (lake.replicate): consistent cuts across
tables, atomic replica flips, bootstrap/drop in one commit, pin-bounded
exports, crash convergence, feed-identity guard, quiet-tick elision."""

from __future__ import annotations

import pytest
from pyspark.sql import types as T

from etl_spark.lake import Catalog, LakeTable
from etl_spark.lake.replicate import CatalogReplicator

SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType()),
        T.StructField("turn_idx", T.IntegerType()),
        T.StructField("text", T.StringType()),
    ]
)


def mk_table(spark, tmp_path, name, rows=()):
    t = LakeTable.create(
        spark, str(tmp_path / name), SCHEMA, key=["conv_id", "turn_idx"],
        n_buckets=4, bucket_by=["conv_id"],
    )
    if rows:
        t.append(spark.createDataFrame(list(rows), SCHEMA))
    return t


def rows(df):
    return {(r.conv_id, r.turn_idx, r.text) for r in df.collect()}


def mk_pair(spark, tmp_path, tables):
    cat = Catalog.create(spark, str(tmp_path / "primary"))
    for name, t in tables.items():
        cat.register(name, t)
    rep = Catalog.create(spark, str(tmp_path / "replica"))
    r = CatalogReplicator(spark, cat, rep, str(tmp_path / "work"))
    return cat, rep, r


def test_tick_replicates_and_tracks_transactions(spark, tmp_path):
    a = mk_table(spark, tmp_path, "a", [("c1", 0, "hi"), ("c2", 0, "yo")])
    b = mk_table(spark, tmp_path, "b", [("c1", 0, "m0")])
    cat, rep, r = mk_pair(spark, tmp_path, {"a": a, "b": b})

    s1 = r.tick()
    assert s1["primary_catalog_version"] == cat.current_version()
    assert rows(rep.read("a")) == rows(cat.read("a"))
    assert rows(rep.read("b")) == rows(cat.read("b"))
    assert s1["tables"]["a"]["rows_applied"] == 2

    # a cross-table transaction on the primary: move c2 from a to b
    txn = cat.transaction()
    ta, tb = txn.table("a"), txn.table("b")
    ta.delete_where("conv_id = 'c2'")
    tb.append(spark.createDataFrame([("c2", 0, "yo")], SCHEMA))
    txn.commit()

    s2 = r.tick()
    assert s2["replica_catalog_version"] > s1["replica_catalog_version"]
    assert rows(rep.read("a")) == {("c1", 0, "hi")}
    assert rows(rep.read("b")) == {("c1", 0, "m0"), ("c2", 0, "yo")}
    # the replica's PREVIOUS catalog version is the previous consistent
    # cut — time travel across the replica sees only primary states
    prev = s1["replica_catalog_version"]
    assert rows(rep.read("a", catalog_version=prev)) == {
        ("c1", 0, "hi"), ("c2", 0, "yo"),
    }
    assert rows(rep.read("b", catalog_version=prev)) == {("c1", 0, "m0")}


def test_export_stops_at_catalog_pin_not_table_head(spark, tmp_path):
    a = mk_table(spark, tmp_path, "a", [("c1", 0, "hi")])
    cat, rep, r = mk_pair(spark, tmp_path, {"a": a})
    # direct (unpublished) table write: head ahead of the catalog pin
    a.append(spark.createDataFrame([("c9", 0, "unpublished")], SCHEMA))
    r.tick()
    assert rows(rep.read("a")) == {("c1", 0, "hi")}
    # publish adopts the stray commit; the next tick ships it
    cat.publish("a")
    r.tick()
    assert rows(rep.read("a")) == {("c1", 0, "hi"), ("c9", 0, "unpublished")}


def test_half_applied_tick_is_invisible_then_converges(spark, tmp_path):
    """Crash between the per-table applies and the catalog flip: replica
    table heads advance but catalog readers still see the previous cut
    for EVERY table; the next tick adopts the applied heads."""
    a = mk_table(spark, tmp_path, "a", [("c1", 0, "hi")])
    b = mk_table(spark, tmp_path, "b", [("c1", 0, "m0")])
    cat, rep, r = mk_pair(spark, tmp_path, {"a": a, "b": b})
    r.tick()
    v0 = rep.current_version()

    txn = cat.transaction()
    txn.table("a").append(spark.createDataFrame([("c2", 0, "a2")], SCHEMA))
    txn.table("b").append(spark.createDataFrame([("c2", 0, "b2")], SCHEMA))
    txn.commit()

    real = Catalog.publish_many

    def crash(self, *args, **kwargs):
        raise RuntimeError("simulated crash before the flip")

    Catalog.publish_many = crash
    try:
        with pytest.raises(RuntimeError, match="simulated crash"):
            r.tick()
    finally:
        Catalog.publish_many = real
    # applied to the chains, invisible through the catalog — for both
    # tables (no half-visible cut)
    assert rep.current_version() == v0
    assert rows(rep.read("a")) == {("c1", 0, "hi")}
    assert rows(rep.read("b")) == {("c1", 0, "m0")}
    assert ("c2", 0, "a2") in rows(rep.table("a").read())

    s = r.tick()  # replay: applies are commit-log no-ops, flip lands
    assert s["tables"]["a"]["rows_applied"] == 0  # nothing re-merged
    assert rows(rep.read("a")) == {("c1", 0, "hi"), ("c2", 0, "a2")}
    assert rows(rep.read("b")) == {("c1", 0, "m0"), ("c2", 0, "b2")}


def test_register_and_drop_flip_in_one_commit(spark, tmp_path):
    a = mk_table(spark, tmp_path, "a", [("c1", 0, "hi")])
    cat, rep, r = mk_pair(spark, tmp_path, {"a": a})
    r.tick()

    c = mk_table(spark, tmp_path, "c", [("c5", 0, "new")])
    cat.register("c", c)
    cat.drop("a")
    before = rep.current_version()
    s = r.tick()
    assert s["dropped"] == ["a"]
    # ONE catalog commit carries both the registration (with data — a
    # bootstrapped table never appears empty) and the drop
    assert rep.current_version() == before + 1
    assert rows(rep.read("c")) == {("c5", 0, "new")}
    with pytest.raises(FileNotFoundError):
        rep.read("a")
    # the pre-flip version still reads the dropped table: time travel
    assert rows(rep.read("a", catalog_version=before)) == {("c1", 0, "hi")}


def test_direct_bootstrap_skips_the_json_wire_and_replays_as_noop(
    spark, tmp_path
):
    """Default bootstrap MERGEs the pinned snapshot read directly
    (parquet-native — no full-load JSONL segment in the feed) under the
    same commit-log bookkeeping; a replayed tick applies 0 rows."""
    import os

    a = mk_table(spark, tmp_path, "a", [("c1", 0, "hi"), ("c2", 0, "yo")])
    cat = Catalog.create(spark, str(tmp_path / "primary"))
    cat.register("a", a)

    rep = Catalog.create(spark, str(tmp_path / "replica"))
    r = CatalogReplicator(spark, cat, rep, str(tmp_path / "work"))
    s = r.tick()
    assert s["tables"]["a"]["bootstrap_rows"] == 2
    assert rows(rep.read("a")) == rows(a.read())
    feed = str(tmp_path / "work" / "feed" / "a")
    assert [n for n in os.listdir(feed) if n.startswith("seg-")] == []

    s2 = r.tick()  # replay: commit-log no-op, nothing re-merged
    assert s2["tables"]["a"]["rows_applied"] == 0


def test_mor_replica_backlog_compaction_folds_before_flip(spark, tmp_path):
    """merge_mode='mor' replicas accrue delta files per window; with
    compact_when_delta_rows the tick folds the backlog before the flip,
    so catalog readers land on the compacted snapshot and the manifest
    carries no shadow entries."""
    a = mk_table(spark, tmp_path, "a", [("c1", 0, "v0"), ("c2", 0, "w0")])
    cat = Catalog.create(spark, str(tmp_path / "primary"))
    cat.register("a", a)
    rep = Catalog.create(spark, str(tmp_path / "replica"))
    r = CatalogReplicator(
        spark, cat, rep, str(tmp_path / "work"),
        merge_mode="mor", compact_when_delta_rows=1,
    )
    r.tick()  # bootstrap (cow by contract)
    for i in range(2):
        a.merge(spark.createDataFrame([("c1", 0, f"v{i + 1}")], SCHEMA))
        cat.publish("a")
        r.tick()
        snap = rep.table("a").snapshot()
        assert snap.delete_source_files == [] and snap.patch_files == []
    assert rows(rep.read("a")) == {("c1", 0, "v2"), ("c2", 0, "w0")}


def test_tick_metrics_record_lag_lineage(spark, tmp_path):
    """With a MetricsTable attached, every tick emits one row per member
    (rows applied, primary-catalog batch id) plus a summary row carrying
    the (primary, replica) catalog-version pair and tick latency."""
    from etl_spark.cdc.metrics import MetricsTable

    a = mk_table(spark, tmp_path, "a", [("c1", 0, "hi")])
    cat = Catalog.create(spark, str(tmp_path / "primary"))
    cat.register("a", a)
    rep = Catalog.create(spark, str(tmp_path / "replica"))
    mt = MetricsTable(str(tmp_path / "metrics"))
    r = CatalogReplicator(
        spark, cat, rep, str(tmp_path / "work"), metrics=mt
    )
    s = r.tick()
    rows_ = {
        (m.source, m.batch_id, m.rows_applied, m.low_lsn, m.high_lsn)
        for m in mt.to_df(spark).collect()
    }
    pv = s["primary_catalog_version"]
    rv = s["replica_catalog_version"]
    assert ("catrepl-a", pv, 1, pv, rv) in rows_
    assert ("catalog-replicator", pv, 1, pv, rv) in rows_
    lat = [
        m.latency_ms for m in mt.to_df(spark).collect()
        if m.source == "catalog-replicator"
    ]
    assert len(lat) == 1 and lat[0] >= 0


def test_quiet_tick_commits_nothing(spark, tmp_path):
    a = mk_table(spark, tmp_path, "a", [("c1", 0, "hi")])
    cat, rep, r = mk_pair(spark, tmp_path, {"a": a})
    r.tick()
    rv = rep.current_version()
    s = r.tick()
    assert s["replica_catalog_version"] == rv
    assert rep.current_version() == rv
    assert s["tables"]["a"]["export"]["skipped"]
    assert s["tables"]["a"]["windows_applied"] == 0


def test_prune_retires_applied_feed_windows(spark, tmp_path):
    import os

    a = mk_table(spark, tmp_path, "a", [("c1", 0, "hi")])
    cat, rep, r = mk_pair(spark, tmp_path, {"a": a})
    for i in range(3):
        a.append(spark.createDataFrame([(f"n{i}", 0, "x")], SCHEMA))
        cat.publish("a")
        r.tick()
    feed = str(tmp_path / "work" / "feed" / "a")
    n_before = len([n for n in os.listdir(feed) if n.startswith("seg-")])
    # direct (parquet-native) bootstrap covers the pre-loop appends with
    # NO feed segment; the 2 later ticks each ship one increment
    assert n_before == 2
    s = r.prune(keep_last=1)
    assert s["a"]["pruned_segments"] == 1
    left = [n for n in os.listdir(feed) if n.startswith("seg-")]
    assert len(left) == 1
    # replication continues unaffected after the prune
    a.append(spark.createDataFrame([("c7", 0, "post")], SCHEMA))
    cat.publish("a")
    r.tick()
    assert ("c7", 0, "post") in rows(rep.read("a"))


def test_schema_evolution_flows_through_catalog_replication(spark, tmp_path):
    """A column added on a primary member reaches its replica table: the
    tick parses with the PINNED primary schema and the replica MERGE
    evolves; the other member is untouched."""
    from pyspark.sql import types as T2

    a = mk_table(spark, tmp_path, "a", [("c1", 0, "hi")])
    b = mk_table(spark, tmp_path, "b", [("c1", 0, "m0")])
    cat, rep, r = mk_pair(spark, tmp_path, {"a": a, "b": b})
    r.tick()

    evolved = T2.StructType(
        list(SCHEMA.fields) + [T2.StructField("lang", T2.StringType())]
    )
    a.merge(spark.createDataFrame([("c2", 0, "yo", "en")], evolved))
    cat.publish("a")
    r.tick()
    got = {(row.conv_id, row.lang) for row in rep.read("a").collect()}
    assert got == {("c1", None), ("c2", "en")}
    assert rep.table("b").schema.fieldNames() == SCHEMA.fieldNames()


def test_feed_refuses_a_repointed_name(spark, tmp_path):
    a = mk_table(spark, tmp_path, "a", [("c1", 0, "hi")])
    cat, rep, r = mk_pair(spark, tmp_path, {"a": a})
    r.tick()
    other = mk_table(spark, tmp_path, "other", [("c8", 0, "x")])
    cat.drop("a")
    cat.register("a", other)
    with pytest.raises(RuntimeError, match="moved from table"):
        r.tick()


from hypothesis import HealthCheck, given, settings  # noqa: E402
from hypothesis import strategies as st  # noqa: E402

# (table, op, key, value-tag, tick after?, crash that tick's flip?)
_steps = st.lists(
    st.tuples(
        st.sampled_from(["ta", "tb"]),
        st.sampled_from(["up", "del"]),
        st.integers(0, 4),
        st.integers(0, 99),
        st.booleans(),
        st.booleans(),
    ),
    min_size=3,
    max_size=6,
)


@settings(max_examples=4, deadline=None,
          suppress_health_check=list(HealthCheck))
@given(steps=_steps, mode=st.sampled_from(["cow", "mor"]))
def test_replicator_fuzz_vs_sequential_model(
    spark, tmp_path_factory, steps, mode
):
    """Random upsert/delete/publish churn on two primary tables with
    ticks (and crash-injected flips) interleaved at random: after every
    SUCCESSFUL tick each replica table must equal the sequential model
    of everything published so far (ticks see only published state —
    every step here publishes); a crashed flip must leave the replica
    catalog version unchanged; a final clean tick converges."""
    from pyspark.sql import types as T

    from etl_spark.lake import Catalog
    from etl_spark.lake.replicate import CatalogReplicator

    base = tmp_path_factory.mktemp("repl_fuzz")
    schema = T.StructType(
        [T.StructField("k", T.IntegerType()), T.StructField("v", T.StringType())]
    )
    cat = Catalog.create(spark, str(base / "cat"))
    for name in ("ta", "tb"):
        cat.register(
            name,
            LakeTable.create(
                spark, str(base / name), schema, key=["k"], n_buckets=2
            ),
        )
    rep = Catalog.create(spark, str(base / "replica"))
    r = CatalogReplicator(
        spark, cat, rep, str(base / "work"), merge_mode=mode
    )
    model: dict[str, dict[int, str]] = {"ta": {}, "tb": {}}

    def check():
        for name in ("ta", "tb"):
            got = {(row.k, row.v) for row in rep.read(name).collect()}
            exp = set(model[name].items())
            assert got == exp, (name, got, exp)

    real = Catalog.publish_many
    for name, op, k, tag, tick, crash in steps:
        t = cat.table(name)
        if op == "up":
            t.merge(spark.createDataFrame([(k, f"v{tag}")], schema))
            model[name][k] = f"v{tag}"
        else:
            t.delete_where(f"k = {k}")
            model[name].pop(k, None)
        cat.publish(name)
        if not tick:
            continue
        if crash:
            rv = rep.current_version()
            Catalog.publish_many = lambda self, *a, **kw: (_ for _ in ()).throw(
                RuntimeError("flip crash")
            )
            try:
                with pytest.raises(RuntimeError, match="flip crash"):
                    r.tick()
            finally:
                Catalog.publish_many = real
            assert rep.current_version() == rv
        else:
            r.tick()
            check()
    r.tick()
    check()


def test_routed_ingest_feeds_replica_catalog(spark, tmp_path):
    """Integration across the two newest families: a heterogeneous WAL
    routed into a primary catalog (per-batch atomic flips) with a
    CatalogReplicator following — the replica reaches the same
    cross-table-consistent state, and a mid-stream tick (between routed
    batches) lands exactly on a primary consistency point."""
    import datetime as dt

    from pyspark.sql import types as T2

    from etl_spark.cdc import route_batch
    from etl_spark.cdc.state import CommitLog, WatermarkStore

    wal_schema = T2.StructType([
        T2.StructField("dest_table", T2.StringType()),
        T2.StructField("op", T2.StringType()),
        T2.StructField("lsn", T2.LongType()),
        T2.StructField("source_partition", T2.IntegerType()),
        T2.StructField("ts", T2.TimestampType()),
        T2.StructField("conv_id", T2.StringType()),
        T2.StructField("turn_idx", T2.IntegerType()),
        T2.StructField("text", T2.StringType()),
        T2.StructField("user_id", T2.LongType()),
        T2.StructField("name", T2.StringType()),
    ])
    ts = dt.datetime(2026, 1, 1, 12, 0, 0)
    turns = LakeTable.create(
        spark, str(tmp_path / "turns"),
        T2.StructType([
            T2.StructField("conv_id", T2.StringType()),
            T2.StructField("turn_idx", T2.IntegerType()),
            T2.StructField("text", T2.StringType()),
        ]),
        key=["conv_id", "turn_idx"], n_buckets=4, bucket_by=["conv_id"],
    )
    users = LakeTable.create(
        spark, str(tmp_path / "users"),
        T2.StructType([
            T2.StructField("user_id", T2.LongType()),
            T2.StructField("name", T2.StringType()),
        ]),
        key=["user_id"], n_buckets=2,
    )
    cat = Catalog.create(spark, str(tmp_path / "cat"))
    cat.register("turns", turns)
    cat.register("users", users)
    rep = Catalog.create(spark, str(tmp_path / "replica"))
    r = CatalogReplicator(spark, cat, rep, str(tmp_path / "work"))
    log = CommitLog(str(tmp_path / "commits"))
    wm = WatermarkStore(str(tmp_path / "wm"))

    def route(batch_id, events):
        route_batch(
            spark, spark.createDataFrame(events, wal_schema), cat,
            batch_id=batch_id, commit_log=log, watermark_store=wm,
        )

    route(0, [
        ("turns", "U", 1, 0, ts, "c1", 0, "hello", None, None),
        ("turns", "U", 2, 0, ts, "c1", 1, "hi", None, None),
        ("users", "U", 3, 0, ts, None, None, None, 7, "ada"),
    ])
    mid = r.tick()  # mid-stream: a primary consistency point
    assert {(x.conv_id, x.turn_idx, x.text)
            for x in rep.read("turns").collect()} == {
        ("c1", 0, "hello"), ("c1", 1, "hi")}
    assert {(x.user_id, x.name) for x in rep.read("users").collect()} == {
        (7, "ada")}

    route(1, [
        ("turns", "U", 4, 0, ts, "c1", 1, "hi again", None, None),
        ("turns", "D", 5, 0, ts, "c1", 0, None, None, None),
        ("users", "U", 6, 0, ts, None, None, None, 7, "ada l."),
    ])
    r.tick()
    assert {(x.conv_id, x.turn_idx, x.text)
            for x in rep.read("turns").collect()} == {("c1", 1, "hi again")}
    assert {(x.user_id, x.name) for x in rep.read("users").collect()} == {
        (7, "ada l.")}
    # the mid-stream cut is still readable on the replica: time travel
    prev = mid["replica_catalog_version"]
    assert {(x.user_id, x.name)
            for x in rep.read("users", catalog_version=prev).collect()} == {
        (7, "ada")}
