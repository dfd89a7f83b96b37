"""Multi-table WAL routing (cdc.router): one heterogeneous change
stream applied to several catalog tables with per-batch atomic
cross-table visibility and exactly-once replay.

Semantics under test: rows route by the table column to each
destination's own key/dedup/merge; ONE catalog commit per batch flips
every destination together (readers never see table A at batch N and
table B at batch N-1); a replayed batch is a commit-log no-op; unknown
tables and invalid rows dead-letter with labels; destinations never
absorb each other's payload columns from the union WAL schema unless
evolution is explicitly requested; watermarks drop cross-batch stale
re-sends; the streaming wrapper resumes from checkpoint.
"""

from __future__ import annotations

import datetime as dt
import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from etl_spark.cdc import RoutedCdcStream, route_batch
from etl_spark.cdc.metrics import MetricsTable
from etl_spark.cdc.state import CommitLog, WatermarkStore
from etl_spark.lake import Catalog, LakeTable

WAL_SCHEMA = T.StructType(
    [
        T.StructField("dest_table", T.StringType()),
        T.StructField("op", T.StringType()),
        T.StructField("lsn", T.LongType()),
        T.StructField("source_partition", T.IntegerType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("conv_id", T.StringType()),
        T.StructField("turn_idx", T.IntegerType()),
        T.StructField("role", T.StringType()),
        T.StructField("text", T.StringType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("name", T.StringType()),
    ]
)

TS = dt.datetime(2026, 1, 1, 12, 0, 0)


def ev(table, op, lsn, part=0, conv=None, turn=None, role=None, text=None,
       uid=None, name=None, ts=TS):
    return (table, op, lsn, part, ts, conv, turn, role, text, uid, name)


def mk_catalog(spark, tmp_path):
    turns = LakeTable.create(
        spark, str(tmp_path / "turns"),
        T.StructType([
            T.StructField("conv_id", T.StringType()),
            T.StructField("turn_idx", T.IntegerType()),
            T.StructField("role", T.StringType()),
            T.StructField("text", T.StringType()),
        ]),
        key=["conv_id", "turn_idx"], n_buckets=4, bucket_by=["conv_id"],
    )
    users = LakeTable.create(
        spark, str(tmp_path / "users"),
        T.StructType([
            T.StructField("user_id", T.LongType()),
            T.StructField("name", T.StringType()),
        ]),
        key=["user_id"], n_buckets=2,
    )
    cat = Catalog.create(spark, str(tmp_path / "cat"))
    cat.register("turns", turns)
    cat.register("users", users)
    return cat, turns, users


def turns_rows(df):
    return {(r.conv_id, r.turn_idx, r.role, r.text) for r in df.collect()}


def users_rows(df):
    return {(r.user_id, r.name) for r in df.collect()}


def test_route_two_batches_atomic_and_exactly_once(spark, tmp_path):
    cat, turns, users = mk_catalog(spark, tmp_path)
    log = CommitLog(str(tmp_path / "commits"))
    base = cat.current_version()

    b0 = spark.createDataFrame(
        [
            ev("turns", "I", 1, conv="c1", turn=0, role="user", text="hi"),
            ev("turns", "I", 2, conv="c1", turn=1, role="assistant", text="yo"),
            ev("users", "I", 3, uid=7, name="ada"),
            ev("users", "I", 4, uid=8, name="bob"),
            # in-batch LWW: the later lsn wins for the same key
            ev("turns", "U", 5, conv="c1", turn=0, role="user", text="hi!"),
        ],
        WAL_SCHEMA,
    )
    s0 = route_batch(spark, b0, cat, batch_id=0, commit_log=log)
    assert s0["rows_in"] == 5 and s0["rows_failed"] == 0
    # ONE catalog commit for the whole batch
    assert s0["catalog_version"] == base + 1
    assert turns_rows(cat.read("turns")) == {
        ("c1", 0, "user", "hi!"), ("c1", 1, "assistant", "yo"),
    }
    assert users_rows(cat.read("users")) == {(7, "ada"), (8, "bob")}

    b1 = spark.createDataFrame(
        [
            ev("turns", "U", 6, conv="c1", turn=1, role="assistant", text="yo2"),
            ev("users", "D", 7, uid=8),
        ],
        WAL_SCHEMA,
    )
    s1 = route_batch(spark, b1, cat, batch_id=1, commit_log=log)
    assert s1["catalog_version"] == base + 2
    assert turns_rows(cat.read("turns")) == {
        ("c1", 0, "user", "hi!"), ("c1", 1, "assistant", "yo2"),
    }
    assert users_rows(cat.read("users")) == {(7, "ada")}
    # cross-table consistency at every catalog version (time travel)
    assert users_rows(cat.read("users", catalog_version=base + 1)) == {
        (7, "ada"), (8, "bob"),
    }

    # exactly-once: a replayed batch is a marker no-op — no new catalog
    # version, no table writes
    s1b = route_batch(spark, b1, cat, batch_id=1, commit_log=log)
    assert s1b["skipped"] is True
    assert cat.current_version() == base + 2


def test_unknown_table_and_invalid_rows_dead_letter(spark, tmp_path):
    cat, turns, users = mk_catalog(spark, tmp_path)
    dl = str(tmp_path / "dl")
    batch = spark.createDataFrame(
        [
            ev("turns", "I", 1, conv="c1", turn=0, role="user", text="ok"),
            ev("orders", "I", 2, conv="c9", turn=9),       # unregistered
            ev(None, "I", 3, conv="c9", turn=9),           # NULL route
            ev("users", "I", 4, uid=None, name="ghost"),   # NULL key
            ev("users", "X", 5, uid=9, name="badop"),      # unknown op
        ],
        WAL_SCHEMA,
    )
    s = route_batch(spark, batch, cat, batch_id=0, dead_letter_dir=dl)
    assert s["rows_in"] == 1 and s["rows_failed"] == 4
    assert turns_rows(cat.read("turns")) == {("c1", 0, "user", "ok")}
    assert users_rows(cat.read("users")) == set()
    dead = spark.read.parquet(os.path.join(dl, "batch=0"))
    got = {(r.dest_table, r.error) for r in dead.collect()}
    assert got == {
        ("orders", "unknown_table"),
        (None, "unknown_table"),
        ("users", "key_not_null"),
        ("users", "op_unknown"),
    }


def test_metric_rows_per_destination_and_partition(spark, tmp_path):
    cat, turns, users = mk_catalog(spark, tmp_path)
    metrics = MetricsTable(str(tmp_path / "metrics"))
    wm = WatermarkStore(str(tmp_path / "wm"))
    log = CommitLog(str(tmp_path / "commits"))
    b0 = spark.createDataFrame(
        [
            ev("turns", "I", 1, part=0, conv="c1", turn=0, role="u", text="a"),
            ev("turns", "I", 2, part=1, conv="c2", turn=0, role="u", text="b"),
            ev("turns", "I", 3, part=0, conv=None, turn=1),   # NULL key
            ev("users", "I", 4, part=1, uid=7, name="ada"),
            ev("users", "X", 5, part=1, uid=9, name="badop"),  # unknown op
            ev("orders", "I", 6, part=0, conv="c9", turn=9),  # unregistered
        ],
        WAL_SCHEMA,
    )
    s0 = route_batch(
        spark, b0, cat, batch_id=0, commit_log=log, watermark_store=wm,
        metrics=metrics, dead_letter_dir=str(tmp_path / "dl"),
    )
    assert set(s0) == {
        "batch_id", "source", "skipped", "rows_in", "rows_failed", "tables",
        "catalog_version", "rows_applied", "latency_ms",
    }
    assert (s0["rows_in"], s0["rows_failed"], s0["rows_applied"]) == (3, 3, 3)
    assert wm.get_all() == {0: 1, 1: 4}
    # an all-failed batch still records its failures per destination
    b1 = spark.createDataFrame(
        [ev("users", "X", 7, part=0, uid=9, name="badop")], WAL_SCHEMA
    )
    s1 = route_batch(
        spark, b1, cat, batch_id=1, commit_log=log, watermark_store=wm,
        metrics=metrics,
    )
    assert set(s1) == set(s0)
    assert (s1["rows_in"], s1["rows_failed"], s1["catalog_version"]) == (
        0, 1, None,
    )
    rows = metrics.to_df(spark).collect()
    assert all(r.latency_ms is not None and r.latency_ms >= 0 for r in rows)
    got = {
        (r.source, r.batch_id, r.source_partition, r.rows_in, r.rows_applied,
         r.rows_failed, r.low_lsn, r.high_lsn)
        for r in rows
    }
    # unknown destinations count in the batch totals only; per-destination
    # rows carry no LSN range
    assert got == {
        ("wal:turns", 0, 0, 1, None, 1, None, None),
        ("wal:turns", 0, 1, 1, None, 0, None, None),
        ("wal:users", 0, 1, 1, None, 1, None, None),
        ("wal:users", 1, 0, 0, None, 1, None, None),
    }
    assert len(rows) == len(got)


def test_schema_isolation_and_opt_in_evolution(spark, tmp_path):
    cat, turns, users = mk_catalog(spark, tmp_path)
    batch = spark.createDataFrame(
        [
            ev("turns", "I", 1, conv="c1", turn=0, role="user", text="hi",
               uid=999, name="leak"),
            ev("users", "I", 2, uid=7, name="ada", text="leak"),
        ],
        WAL_SCHEMA,
    )
    route_batch(spark, batch, cat, batch_id=0)
    # the union WAL schema must NOT leak across destinations
    assert set(cat.table("turns").schema.fieldNames()) == {
        "conv_id", "turn_idx", "role", "text",
    }
    assert set(cat.table("users").schema.fieldNames()) == {
        "user_id", "name",
    }
    # explicit evolution carries a named column into ONE destination
    route_batch(
        spark,
        spark.createDataFrame(
            [ev("users", "U", 3, uid=7, name="ada", role="admin")], WAL_SCHEMA
        ),
        cat, batch_id=1, evolve={"users": ["role"]},
    )
    assert "role" in cat.table("users").schema.fieldNames()
    assert {(r.user_id, r.name, r.role) for r in cat.read("users").collect()} == {
        (7, "ada", "admin")
    }
    assert "user_id" not in cat.table("turns").schema.fieldNames()


def test_rekeying_transform_needs_recount_flag(spark, tmp_path):
    """A destination transform that REWRITES bucket/key column values
    invalidates the raw-batch bucket histogram: merge keeps the files of
    unlisted buckets verbatim, so trusting the pre-transform counts
    would write the re-keyed rows into buckets whose stored files are
    kept — duplicate keys. transforms_preserve_keys_and_validity=False
    must hand merge a recount and converge exactly."""
    cat, turns, users = mk_catalog(spark, tmp_path)

    # pick a conv id whose "-eu" re-key PROVABLY lands in a different
    # bucket under turns' spec (4 buckets, xxhash64 of conv_id) — the
    # test must actually exercise the cross-bucket corruption vector
    cands = [f"c{i}" for i in range(1, 33)]
    moved = spark.createDataFrame(
        [(c,) for c in cands], "conv_id string"
    ).select(
        "conv_id",
        F.pmod(F.xxhash64("conv_id"), F.lit(4)).cast("int").alias("b0"),
        F.pmod(F.xxhash64(F.concat(F.col("conv_id"), F.lit("-eu"))), F.lit(4))
        .cast("int")
        .alias("b1"),
    ).where("b0 <> b1").limit(1).collect()
    conv = moved[0]["conv_id"]

    def rekey(df):
        return df.withColumn("conv_id", F.concat(F.col("conv_id"), F.lit("-eu")))

    # seed the destination bucket the re-keyed rows will land in, so the
    # default-contract failure mode (kept file + new file, same bucket)
    # is live rather than a bootstrap write
    turns.append(
        spark.createDataFrame(
            [(f"{conv}-eu", 99, "system", "seed")],
            cat.table("turns").schema,
        )
    )
    cat.publish("turns")

    b0 = spark.createDataFrame(
        [
            ev("turns", "I", 1, conv=conv, turn=0, role="user", text="hi"),
            ev("turns", "I", 2, conv=conv, turn=1, role="assistant", text="yo"),
            ev("users", "I", 3, uid=7, name="ada"),
        ],
        WAL_SCHEMA,
    )
    route_batch(
        spark, b0, cat, batch_id=0, transforms={"turns": rekey},
        transforms_preserve_keys_and_validity=False,
    )
    assert turns_rows(cat.read("turns")) == {
        (f"{conv}-eu", 0, "user", "hi"),
        (f"{conv}-eu", 1, "assistant", "yo"),
        (f"{conv}-eu", 99, "system", "seed"),
    }

    # batch 1 updates one re-keyed row and deletes another: the merge
    # must hit the TRANSFORMED keys' buckets
    b1 = spark.createDataFrame(
        [
            ev("turns", "U", 4, conv=conv, turn=0, role="user", text="hi!"),
            ev("turns", "D", 5, conv=conv, turn=1),
        ],
        WAL_SCHEMA,
    )
    route_batch(
        spark, b1, cat, batch_id=1, transforms={"turns": rekey},
        transforms_preserve_keys_and_validity=False,
    )
    final = cat.read("turns")
    assert turns_rows(final) == {
        (f"{conv}-eu", 0, "user", "hi!"),
        (f"{conv}-eu", 99, "system", "seed"),
    }
    # no duplicate keys anywhere (the corruption signature of a stale
    # histogram is a key present in both a kept file and a new file)
    dupes = (
        final.groupBy("conv_id", "turn_idx").count().where("count > 1").count()
    )
    assert dupes == 0


def test_watermarks_drop_cross_batch_stale_resend(spark, tmp_path):
    cat, turns, users = mk_catalog(spark, tmp_path)
    wm = WatermarkStore(str(tmp_path / "wm"))
    b0 = spark.createDataFrame(
        [ev("turns", "I", 10, conv="c1", turn=0, role="user", text="new")],
        WAL_SCHEMA,
    )
    route_batch(spark, b0, cat, batch_id=0, watermark_store=wm)
    base = cat.current_version()
    # an at-least-once producer re-emits lsn<=10 in the next batch: the
    # stale OLD text must not overwrite, and nothing commits at all
    b1 = spark.createDataFrame(
        [ev("turns", "I", 10, conv="c1", turn=0, role="user", text="stale")],
        WAL_SCHEMA,
    )
    s = route_batch(spark, b1, cat, batch_id=1, watermark_store=wm)
    assert s["rows_in"] == 0 and s["catalog_version"] is None
    assert cat.current_version() == base
    assert turns_rows(cat.read("turns")) == {("c1", 0, "user", "new")}


def test_missing_key_column_is_a_loud_config_error(spark, tmp_path):
    cat, _, _ = mk_catalog(spark, tmp_path)
    bad = spark.createDataFrame(
        [("turns", "I", 1)],
        "dest_table string, op string, lsn long",
    )
    with pytest.raises(ValueError, match="key column"):
        route_batch(spark, bad, cat, batch_id=0)


def test_debezium_server_feed_routes_by_envelope_table(spark, tmp_path):
    """The production Debezium-SERVER shape end-to-end: one JSON feed
    carrying every table of the source database, parsed once with the
    union payload schema (+ the envelope's source.table surfaced via
    table_col), routed to per-table catalog destinations atomically."""
    from etl_spark.sources.debezium import parse_debezium, split_rejects, to_debezium_json

    cat, turns, users = mk_catalog(spark, tmp_path)
    tchg = spark.createDataFrame(
        [("U", 1, TS, "c1", 0, "user", "hi"),
         ("U", 3, TS, "c1", 0, "user", "hi!")],
        "op string, lsn long, ts timestamp, conv_id string, turn_idx int,"
        " role string, text string",
    )
    uchg = spark.createDataFrame(
        [("U", 2, TS, 7, "ada"), ("D", 4, TS, 8, None)],
        "op string, lsn long, ts timestamp, user_id long, name string",
    )
    feed = to_debezium_json(
        tchg, ["conv_id", "turn_idx", "role", "text"], table_name="turns"
    ).unionByName(
        to_debezium_json(uchg, ["user_id", "name"], table_name="users")
    )
    union_schema = T.StructType([
        T.StructField("conv_id", T.StringType()),
        T.StructField("turn_idx", T.IntegerType()),
        T.StructField("role", T.StringType()),
        T.StructField("text", T.StringType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("name", T.StringType()),
    ])
    parsed = parse_debezium(feed, union_schema, table_col="dest_table")
    clean, rejects = split_rejects(parsed)
    assert rejects.count() == 0
    s = route_batch(spark, clean, cat, batch_id=0)
    assert s["rows_in"] == 4
    assert turns_rows(cat.read("turns")) == {("c1", 0, "user", "hi!")}
    assert users_rows(cat.read("users")) == {(7, "ada")}


def test_routed_stream_mor_with_maintenance_converges(spark, tmp_path):
    """merge_mode='mor' + compact cadence: every destination commits
    O(batch) deltas per micro-batch, the maintenance tick folds the
    backlog and ADOPTS the compaction commit into the catalog (an
    unpublished maintenance commit would make the next transaction
    refuse the chain as diverged)."""
    cat, turns, users = mk_catalog(spark, tmp_path)
    wal = str(tmp_path / "wal" / "part=0")
    os.makedirs(wal)

    def seg(name, rows, mtime):
        p = os.path.join(wal, name)
        spark.createDataFrame(rows, WAL_SCHEMA).coalesce(1).write.mode(
            "overwrite"
        ).parquet(p + ".d")
        part = [f for f in os.listdir(p + ".d") if f.endswith(".parquet")][0]
        os.rename(os.path.join(p + ".d", part), p)
        os.utime(p, (mtime, mtime))

    seg("s0.parquet", [
        ev("turns", "I", 1, conv="c1", turn=0, role="user", text="a"),
        ev("users", "I", 2, uid=1, name="n1"),
    ], 1_700_000_000)
    seg("s1.parquet", [
        ev("turns", "U", 3, conv="c1", turn=0, role="user", text="b"),
        ev("users", "D", 4, uid=1),
        ev("users", "I", 5, uid=2, name="n2"),
    ], 1_700_000_100)

    stream = RoutedCdcStream(
        spark, str(tmp_path / "wal"), cat, str(tmp_path / "state"),
        max_files_per_trigger=1, merge_mode="mor",
        compact_every=2, expire_keep_last=2,
    )
    stats = stream.run_to_completion()
    applied = [s for s in stats if not s.get("skipped")]
    assert len(applied) == 2 and "maintenance" in applied[-1]
    assert turns_rows(cat.read("turns")) == {("c1", 0, "user", "b")}
    assert users_rows(cat.read("users")) == {(2, "n2")}
    # the compaction folded the mor backlog in every destination
    for t in (turns, users):
        snap = t.snapshot()
        assert snap.delete_source_files == [] and not any(
            f.get("kind") == "delta" for f in snap.files
        )
    # and the catalog adopted the maintenance commits: a fresh
    # transaction opens cleanly (no divergence refusal) and commits
    txn = cat.transaction()
    txn.table("users").append(
        spark.createDataFrame([(3, "n3")], "user_id long, name string")
    )
    assert txn.commit() is not None
    assert users_rows(cat.read("users")) == {(2, "n2"), (3, "n3")}


from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

_route_events = st.lists(
    st.tuples(
        st.sampled_from(["ta", "tb"]),      # destination
        st.integers(0, 5),                  # key
        st.sampled_from(["I", "U", "D"]),   # op
        st.text(alphabet="xy", max_size=3), # payload
    ),
    min_size=1,
    max_size=50,
)


@settings(max_examples=5, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(rows=_route_events, chunks=st.integers(1, 3),
       mode=st.sampled_from(["cow", "mor"]))
def test_router_converges_on_random_heterogeneous_streams(
    spark, tmp_path_factory, rows, chunks, mode
):
    """Fuzz: ANY interleaving of I/U/D events across two destinations,
    split into ANY number of lsn-ordered batches, routed with commit log
    + watermarks, must converge each table to the sequential-apply model
    — deletes of absent keys, delete-then-reinsert, cross-destination
    key collisions and empty batches included."""
    # lsn = arrival order; ts coarsened but monotone with lsn (the WAL
    # contract: LWW order == arrival order)
    schema = ("dest_table string, op string, lsn long, source_partition int,"
              " ts timestamp, k int, v string")
    events = [
        (t, op, i + 1, 0,
         dt.datetime(2026, 1, 1) + dt.timedelta(seconds=(i + 1) // 2), k, v)
        for i, (t, k, op, v) in enumerate(rows)
    ]
    base = tmp_path_factory.mktemp("route_fuzz")
    cat = Catalog.create(spark, str(base / "cat"))
    for name in ("ta", "tb"):
        cat.register(name, LakeTable.create(
            spark, str(base / name),
            T.StructType([T.StructField("k", T.IntegerType()),
                          T.StructField("v", T.StringType())]),
            key=["k"], n_buckets=2,
        ))
    log = CommitLog(str(base / "commits"))
    wm = WatermarkStore(str(base / "wm"))
    size = -(-len(events) // chunks)
    for b in range(chunks):
        batch = events[b * size:(b + 1) * size]
        route_batch(
            spark, spark.createDataFrame(batch, schema), cat,
            batch_id=b, commit_log=log, watermark_store=wm,
            merge_mode=mode,
        )
    # sequential-apply model
    state: dict[tuple, str] = {}
    for t, op, _lsn, _p, _ts, k, v in events:
        if op == "D":
            state.pop((t, k), None)
        else:
            state[(t, k)] = v
    for name in ("ta", "tb"):
        got = {(r.k, r.v) for r in cat.read(name).collect()}
        exp = {(k, v) for (t, k), v in state.items() if t == name}
        assert got == exp, (name, got, exp)


def test_routed_stream_replay_and_resume(spark, tmp_path):
    cat, turns, users = mk_catalog(spark, tmp_path)
    wal = str(tmp_path / "wal" / "part=0")
    os.makedirs(wal)

    def seg(name, rows, mtime):
        p = os.path.join(wal, name)
        spark.createDataFrame(rows, WAL_SCHEMA).coalesce(1).write.mode(
            "overwrite"
        ).parquet(p + ".d")
        part = [f for f in os.listdir(p + ".d") if f.endswith(".parquet")][0]
        os.rename(os.path.join(p + ".d", part), p)
        os.utime(p, (mtime, mtime))

    seg("seg-0.parquet", [
        ev("turns", "I", 1, conv="c1", turn=0, role="user", text="a"),
        ev("users", "I", 2, uid=1, name="n1"),
    ], 1_700_000_000)
    seg("seg-1.parquet", [
        ev("turns", "U", 3, conv="c1", turn=0, role="user", text="b"),
        ev("users", "D", 4, uid=1),
    ], 1_700_000_100)

    state = str(tmp_path / "state")
    stream = RoutedCdcStream(
        spark, str(tmp_path / "wal"), cat, state,
        max_files_per_trigger=1,
    )
    stats = stream.run_to_completion()
    applied = [s for s in stats if not s.get("skipped")]
    assert len(applied) == 2  # one file per trigger -> per-batch commits
    assert turns_rows(cat.read("turns")) == {("c1", 0, "user", "b")}
    assert users_rows(cat.read("users")) == set()
    v = cat.current_version()

    # resume: a fresh instance over the same state dir applies nothing
    stats2 = RoutedCdcStream(
        spark, str(tmp_path / "wal"), cat, state, max_files_per_trigger=1,
    ).run_to_completion()
    assert all(s.get("skipped") for s in stats2) or stats2 == []
    assert cat.current_version() == v

    # new segment arrives: only it is applied
    seg("seg-2.parquet", [
        ev("users", "I", 5, uid=2, name="n2"),
    ], 1_700_000_200)
    stats3 = RoutedCdcStream(
        spark, str(tmp_path / "wal"), cat, state, max_files_per_trigger=1,
    ).run_to_completion()
    assert sum(1 for s in stats3 if not s.get("skipped")) == 1
    assert users_rows(cat.read("users")) == {(2, "n2")}
    assert turns_rows(cat.read("turns")) == {("c1", 0, "user", "b")}


def test_routed_stream_refreshes_views_on_cadence(spark, tmp_path):
    """RoutedCdcStream(views=[...]) duck-types on .refresh() exactly like
    CdcStream: a downstream materialized view over a routed destination
    converges with the replay as part of the cadence."""
    from etl_spark.lake.derived import IncrementalAggView

    cat, turns, users = mk_catalog(spark, tmp_path)
    wal = str(tmp_path / "wal" / "part=0")
    os.makedirs(wal)

    def seg(name, rows, mtime):
        p = os.path.join(wal, name)
        spark.createDataFrame(rows, WAL_SCHEMA).coalesce(1).write.mode(
            "overwrite"
        ).parquet(p + ".d")
        part = [f for f in os.listdir(p + ".d") if f.endswith(".parquet")][0]
        os.rename(os.path.join(p + ".d", part), p)
        os.utime(p, (mtime, mtime))

    seg("s0.parquet", [
        ev("turns", "I", 1, conv="c1", turn=0, role="user", text="a"),
        ev("turns", "I", 2, conv="c1", turn=1, role="assistant", text="b"),
        ev("users", "I", 3, uid=1, name="n1"),
    ], 1_700_000_000)
    seg("s1.parquet", [
        ev("turns", "U", 4, conv="c1", turn=1, role="assistant", text="b2"),
        ev("turns", "I", 5, conv="c2", turn=0, role="user", text="c"),
        ev("turns", "D", 6, conv="c1", turn=0),
    ], 1_700_000_100)

    view = IncrementalAggView(
        spark, str(tmp_path / "view"), turns, group_by=["role"],
        aggs={"n_turns": ("count", "*")}, strategy="delta",
    )
    stream = RoutedCdcStream(
        spark, str(tmp_path / "wal"), cat, str(tmp_path / "state"),
        max_files_per_trigger=1, views=[view],
    )
    stats = stream.run_to_completion()
    applied = [s for s in stats if not s.get("skipped")]
    assert applied and all("view_refreshes" in s for s in applied)
    assert view.last_applied() == turns.current_version()
    got = {r["role"]: r["n_turns"] for r in view.read().collect()}
    want = {
        r["role"]: r["n"]
        for r in turns.read().groupBy("role")
        .agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert got == want == {"user": 1, "assistant": 1}


def test_routed_stream_adaptive_trigger_coalesces(spark, tmp_path):
    """adaptive_trigger_rows on the router: a multi-segment backlog
    coalesces into one micro-batch with the same converged per-table
    state (per-destination LWW dedup resolves intra-batch order)."""
    cat, turns, users = mk_catalog(spark, tmp_path)
    wal = str(tmp_path / "wal" / "part=0")
    os.makedirs(wal)

    def seg(name, rows, mtime):
        p = os.path.join(wal, name)
        spark.createDataFrame(rows, WAL_SCHEMA).coalesce(1).write.mode(
            "overwrite"
        ).parquet(p + ".d")
        part = [f for f in os.listdir(p + ".d") if f.endswith(".parquet")][0]
        os.rename(os.path.join(p + ".d", part), p)
        os.utime(p, (mtime, mtime))

    seg("s0.parquet", [
        ev("turns", "I", 1, conv="c1", turn=0, role="user", text="a"),
        ev("users", "I", 2, uid=1, name="n1"),
    ], 1_700_000_000)
    seg("s1.parquet", [
        ev("turns", "U", 3, conv="c1", turn=0, role="user", text="b"),
        ev("users", "D", 4, uid=1),
        ev("users", "I", 5, uid=2, name="n2"),
    ], 1_700_000_100)
    seg("s2.parquet", [
        ev("turns", "I", 6, conv="c2", turn=0, role="user", text="c"),
    ], 1_700_000_200)

    stream = RoutedCdcStream(
        spark, str(tmp_path / "wal"), cat, str(tmp_path / "state"),
        max_files_per_trigger=1, adaptive_trigger_rows=1_000_000,
    )
    stats = stream.run_to_completion()
    applied = [s for s in stats if not s.get("skipped")]
    assert len(applied) == 1  # 3 segments, one coalesced batch
    assert turns_rows(cat.read("turns")) == {
        ("c1", 0, "user", "b"), ("c2", 0, "user", "c")
    }
    assert users_rows(cat.read("users")) == {(2, "n2")}
