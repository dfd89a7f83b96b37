"""Incrementally-maintained join views (etl_spark.lake.joinview).

Every scenario churns BOTH sides of a fact ⋈ dimension join (fact
inserts/updates/deletes, fk re-pointing, dimension updates/deletes/
late inserts) and asserts the maintained view equals a FULL RECOMPUTE
of the join over the final table states — the defining invariant."""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from etl_spark.lake import LakeTable
from etl_spark.lake.joinview import IncrementalJoinView

L_SCHEMA = T.StructType(
    [
        T.StructField("oid", T.LongType()),
        T.StructField("cust", T.LongType()),
        T.StructField("amount", T.DoubleType()),
    ]
)
R_SCHEMA = T.StructType(
    [
        T.StructField("cid", T.LongType()),
        T.StructField("name", T.StringType()),
        T.StructField("tier", T.StringType()),
    ]
)
L_OPS = T.StructType(list(L_SCHEMA.fields) + [T.StructField("op", T.StringType())])
R_OPS = T.StructType(list(R_SCHEMA.fields) + [T.StructField("op", T.StringType())])


def make_tables(spark, tmp_path, n_left=40, n_right=8):
    left = LakeTable.create(
        spark, str(tmp_path / "l"), L_SCHEMA, key=["oid"], n_buckets=4
    )
    right = LakeTable.create(
        spark, str(tmp_path / "r"), R_SCHEMA, key=["cid"], n_buckets=4
    )
    lrows = [(i, i % n_right, float(i)) for i in range(n_left)]
    rrows = [(c, f"cust{c}", "gold" if c % 2 else "base") for c in range(n_right)]
    left.merge(
        spark.createDataFrame(lrows, L_SCHEMA).withColumn("op", F.lit("U")),
        op_col="op",
    )
    right.merge(
        spark.createDataFrame(rrows, R_SCHEMA).withColumn("op", F.lit("U")),
        op_col="op",
    )
    return left, right


def recompute(left: LakeTable, right: LakeTable, how: str):
    r = right.read().select(
        F.col("cid"), F.col("name").alias("d_name"), F.col("tier").alias("d_tier")
    )
    return (
        left.read()
        .join(r, F.col("cust") == F.col("cid"), how)
        .select("oid", "cust", "amount", "d_name", "d_tier")
    )


def assert_converged(view: IncrementalJoinView, how: str):
    got = sorted(
        tuple(r) for r in view.read()
        .select("oid", "cust", "amount", "d_name", "d_tier").collect()
    )
    want = sorted(tuple(r) for r in recompute(view.left, view.right, how).collect())
    assert got == want


@pytest.mark.parametrize("how", ["left", "inner"])
def test_churn_both_sides_converges(spark, tmp_path, how):
    left, right = make_tables(spark, tmp_path)
    view = IncrementalJoinView(
        spark, str(tmp_path / "v"), left, right, on=["cust"], how=how,
        right_prefix="d_", n_buckets=4,
    )
    st = view.refresh()
    assert st.get("rebuilt")
    assert_converged(view, how)

    # fact churn: value update, fk re-point, delete, inserts (one with a
    # dangling fk, one with a NULL fk)
    left.merge(
        spark.createDataFrame(
            [
                (0, 0, 999.0, "U"),       # amount change
                (1, 5, 1.0, "U"),         # fk 1 -> 5
                (2, None, None, "D"),     # delete
                (40, 99, 4.5, "U"),       # dangling fk (no dim row yet)
                (41, None, 7.5, "U"),     # NULL fk
            ],
            L_OPS,
        ),
        op_col="op",
    )
    view.refresh()
    assert_converged(view, how)

    # dimension churn: payload update, delete, and the late insert that
    # matches the dangling fk
    right.merge(
        spark.createDataFrame(
            [
                (5, "cust5x", "plat", "U"),   # update (fanout: oids 5,13,... and re-pointed 1)
                (3, None, None, "D"),          # delete a referenced dim
                (99, "late", "new", "U"),      # resurrects oid 40
            ],
            R_OPS,
        ),
        op_col="op",
    )
    view.refresh()
    assert_converged(view, how)

    # both sides in one window
    left.merge(
        spark.createDataFrame([(3, 3, -3.0, "U"), (4, None, None, "D")], L_OPS),
        op_col="op",
    )
    right.merge(
        spark.createDataFrame([(0, "cust0y", "iron", "U")], R_OPS), op_col="op"
    )
    view.refresh()
    assert_converged(view, how)


def test_refresh_is_idempotent_and_noop(spark, tmp_path):
    left, right = make_tables(spark, tmp_path)
    view = IncrementalJoinView(
        spark, str(tmp_path / "v"), left, right, on=["cust"],
        right_prefix="d_", n_buckets=4,
    )
    view.refresh()
    v0 = view.table.current_version()
    st = view.refresh()
    assert st["no_op"] and view.table.current_version() == v0


def test_crash_between_index_and_view_merge_replays(spark, tmp_path):
    """Simulate the crash window: the index commit lands, the view commit
    doesn't. The re-run must replay the same window idempotently and
    converge."""
    left, right = make_tables(spark, tmp_path)
    view = IncrementalJoinView(
        spark, str(tmp_path / "v"), left, right, on=["cust"],
        right_prefix="d_", n_buckets=4,
    )
    view.refresh()
    left.merge(
        spark.createDataFrame(
            [(0, 7, 123.0, "U"), (5, None, None, "D")], L_OPS
        ),
        op_col="op",
    )
    # crash: run a refresh whose VIEW merge explodes after the index merge
    real = view._merge_view
    try:
        view._merge_view = lambda *a, **k: (_ for _ in ()).throw(
            RuntimeError("crash")
        )
        with pytest.raises(RuntimeError):
            view.refresh()
    finally:
        view._merge_view = real
    # index is ahead of the view now; the re-run replays the window
    assert view._index_applied() == left.current_version()
    assert view.last_applied() != (
        left.current_version(), right.current_version()
    )
    view.refresh()
    assert_converged(view, "left")
    # and the index exactly mirrors the final left rows' fks
    idx = sorted(tuple(r) for r in view.index.read().collect())
    want = sorted(
        tuple(r)
        for r in left.read().filter(F.col("cust").isNotNull())
        .select("cust", "oid").collect()
    )
    assert idx == want


def test_crash_recovery_with_intervening_fk_revert(spark, tmp_path):
    """The hard crash case (ADVICE r3): index commits through lv1, view
    merge dies, and MORE left commits land before the retry — including
    an fk change that nets out across the VIEW window (ll, lv2] but not
    across the index's own window (lv1, lv2]. Replaying the view window
    into the index would emit no row for that key and leave the stale fk
    in the index forever; recovery must derive the index delta from the
    index's own watermark."""
    left, right = make_tables(spark, tmp_path)
    view = IncrementalJoinView(
        spark, str(tmp_path / "v"), left, right, on=["cust"],
        right_prefix="d_", n_buckets=4,
    )
    view.refresh()
    # pre-crash: re-point oid 0 from cust 0 to cust 5
    left.merge(
        spark.createDataFrame([(0, 5, 100.0, "U")], L_OPS), op_col="op"
    )
    real = view._merge_view
    try:
        view._merge_view = lambda *a, **k: (_ for _ in ()).throw(
            RuntimeError("crash")
        )
        with pytest.raises(RuntimeError):
            view.refresh()
    finally:
        view._merge_view = real
    il = view._index_applied()
    assert il == left.current_version()  # index ran ahead of the view
    # post-crash, pre-recovery: REVERT the fk (0 -> 5 -> 0). Net change
    # across the view window is zero; across (il, lv2] it is 5 -> 0.
    left.merge(
        spark.createDataFrame([(0, 0, 100.0, "U")], L_OPS), op_col="op"
    )
    view.refresh()
    assert_converged(view, "left")
    # the index must NOT retain the stale (5, 0) entry
    idx = sorted(tuple(r) for r in view.index.read().collect())
    want = sorted(
        tuple(r)
        for r in left.read().filter(F.col("cust").isNotNull())
        .select("cust", "oid").collect()
    )
    assert idx == want
    # and dimension churn must flow through the TRUE fk: update cust 0
    # (should reach oid 0) and cust 5 (should not)
    right.merge(
        spark.createDataFrame(
            [(0, "zero2", "t0", "U"), (5, "five2", "t5", "U")], R_OPS
        ),
        op_col="op",
    )
    view.refresh()
    assert_converged(view, "left")
    row = view.read().filter(F.col("oid") == 0).collect()[0]
    assert row["d_name"] == "zero2"


def test_unbucketed_source_rejected_before_state_creation(spark, tmp_path):
    """An unbucketed source must fail in the constructor, before any
    view/index directory or _view_def.json lands on disk."""
    import os

    left, right = make_tables(spark, tmp_path)
    flat = LakeTable.create(
        spark, str(tmp_path / "flat"), R_SCHEMA, key=["cid"], n_buckets=0
    )
    with pytest.raises(ValueError, match="bucketed"):
        IncrementalJoinView(
            spark, str(tmp_path / "v2"), left, flat, on=["cust"],
            right_prefix="d_", n_buckets=4,
        )
    assert not os.path.exists(str(tmp_path / "v2"))


def test_fk_repoint_moves_index_and_fanout(spark, tmp_path):
    left, right = make_tables(spark, tmp_path, n_left=6, n_right=3)
    view = IncrementalJoinView(
        spark, str(tmp_path / "v"), left, right, on=["cust"],
        right_prefix="d_", n_buckets=4,
    )
    view.refresh()
    # re-point oid 0 from cust 0 to cust 2
    left.merge(
        spark.createDataFrame([(0, 2, 0.0, "U")], L_OPS), op_col="op"
    )
    view.refresh()
    # a dim update on cust 2 must now reach oid 0; one on cust 0 must not
    right.merge(
        spark.createDataFrame(
            [(2, "two", "t2", "U"), (0, "zero", "t0", "U")], R_OPS
        ),
        op_col="op",
    )
    view.refresh()
    assert_converged(view, "left")
    row = view.read().filter(F.col("oid") == 0).collect()[0]
    assert row["d_name"] == "two"


def test_maintenance_only_windows_tag(spark, tmp_path):
    left, right = make_tables(spark, tmp_path)
    view = IncrementalJoinView(
        spark, str(tmp_path / "v"), left, right, on=["cust"],
        right_prefix="d_", n_buckets=4,
    )
    view.refresh()
    left.compact()
    right.compact()
    st = view.refresh()
    assert st.get("maintenance_only")
    assert view.last_applied() == (
        left.current_version(), right.current_version()
    )
    assert_converged(view, "left")


def test_redefinition_guard(spark, tmp_path):
    left, right = make_tables(spark, tmp_path)
    IncrementalJoinView(
        spark, str(tmp_path / "v"), left, right, on=["cust"],
        right_prefix="d_", n_buckets=4,
    )
    with pytest.raises(ValueError, match="different definition"):
        IncrementalJoinView(
            spark, str(tmp_path / "v"), left, right, on=["cust"],
            how="inner", right_prefix="d_", n_buckets=4,
        )


def test_collision_requires_prefix(spark, tmp_path):
    left = LakeTable.create(
        spark, str(tmp_path / "l2"), L_SCHEMA, key=["oid"], n_buckets=2
    )
    r_schema = T.StructType(
        [T.StructField("cid", T.LongType()), T.StructField("amount", T.DoubleType())]
    )
    right = LakeTable.create(
        spark, str(tmp_path / "r2"), r_schema, key=["cid"], n_buckets=2
    )
    with pytest.raises(ValueError, match="collide"):
        IncrementalJoinView(
            spark, str(tmp_path / "v2"), left, right, on=["cust"]
        )


def test_right_delta_probe_is_bucket_pruned(spark, tmp_path):
    """Scale shape of the dimension-delta path: churning ONE dim key must
    open only the fk's bucket in the index and only the affected facts'
    buckets on the left — never a full scan of either."""
    # cid 3 is referenced by exactly two facts (oid 3 and 19), so the
    # affected-fact read touches at most 2 of the left buckets
    left, right = make_tables(spark, tmp_path, n_left=20, n_right=16)
    view = IncrementalJoinView(
        spark, str(tmp_path / "v"), left, right, on=["cust"],
        right_prefix="d_", n_buckets=4,
    )
    view.refresh()
    right.merge(
        spark.createDataFrame([(3, "three", "t3", "U")], R_OPS), op_col="op"
    )
    idx_total = len(view.index.snapshot().data_files)
    left_total = len(left.snapshot().data_files)
    assert idx_total >= 3 and left_total >= 3
    seen = {"idx": [], "left": []}
    orig_idx, orig_left = view.index._read_files, left._read_files

    def spy_idx(snap, entries, **kw):
        seen["idx"].append(len(entries))
        return orig_idx(snap, entries, **kw)

    def spy_left(snap, entries, **kw):
        seen["left"].append(len(entries))
        return orig_left(snap, entries, **kw)

    view.index._read_files = spy_idx
    left._read_files = spy_left
    try:
        view.refresh()
    finally:
        del view.index._read_files
        del left._read_files
    assert_converged(view, "left")
    # the index probe opened only the fk's bucket, and the affected-fact
    # read only the (≤2) buckets oid 3 / 19 hash to — never a full scan
    assert seen["idx"] and max(seen["idx"]) < idx_total
    assert seen["left"] and max(seen["left"]) <= 2 < left_total


def test_join_view_on_stream_cadence(spark, tmp_path):
    """CdcStream(views=[...]) duck-types on .refresh(): a join view over
    the streamed transcript table + a conversation dimension converges
    with the replay as part of the maintenance cadence."""
    from etl_spark.cdc import ChangelogSpec, generate_changelog, write_changelog
    from etl_spark.cdc.changelog import TRANSCRIPTS_SCHEMA
    from etl_spark.streaming import CdcStream

    spec = ChangelogSpec(
        n_conversations=24, max_turns=4, churn=1.0, n_partitions=2,
        segments_per_partition=2,
    )
    pdf = generate_changelog(spec)
    wal = str(tmp_path / "wal")
    write_changelog(pdf, wal, spec)
    table = LakeTable.create(
        spark, str(tmp_path / "t"), TRANSCRIPTS_SCHEMA,
        key=["conv_id", "turn_idx"], n_buckets=4, bucket_by=["conv_id"],
    )
    dim_schema = T.StructType(
        [
            T.StructField("conv_id", T.StringType()),
            T.StructField("channel", T.StringType()),
        ]
    )
    dim = LakeTable.create(
        spark, str(tmp_path / "dim"), dim_schema, key=["conv_id"], n_buckets=4
    )
    # dimension covers only the even conversations — odd ones stay NULL
    dim.merge(
        spark.createDataFrame(
            [(f"conv{i:06d}", "web") for i in range(0, 24, 2)], dim_schema
        ).withColumn("op", F.lit("U")),
        op_col="op",
    )
    view = IncrementalJoinView(
        spark, str(tmp_path / "jv"), table, dim, on=["conv_id"],
        right_prefix="dim_", n_buckets=4,
    )
    CdcStream(
        spark, wal, table, str(tmp_path / "state"),
        max_files_per_trigger=2, views=[view],
    ).run_to_completion()
    assert view.last_applied() == (
        table.current_version(), dim.current_version()
    )
    got = sorted(
        tuple(r) for r in view.read()
        .select("conv_id", "turn_idx", "text", "dim_channel").collect()
    )
    want = sorted(
        tuple(r)
        for r in table.read()
        .join(
            dim.read().select("conv_id", F.col("channel").alias("dim_channel")),
            on="conv_id", how="left",
        )
        .select("conv_id", "turn_idx", "text", "dim_channel")
        .collect()
    )
    assert got == want


def test_agg_view_chains_on_join_view(spark, tmp_path):
    """Medallion chaining: an IncrementalAggView whose SOURCE is a join
    view's table (revenue per dimension tier) refreshes from the join
    view's merge commits — and treats its watermark tags as
    maintenance-only windows — so a dim re-point moves amounts between
    groups through two incremental refreshes."""
    from etl_spark.lake.derived import IncrementalAggView

    left, right = make_tables(spark, tmp_path, n_left=30, n_right=6)
    view = IncrementalJoinView(
        spark, str(tmp_path / "v"), left, right, on=["cust"],
        right_prefix="d_", n_buckets=4,
    )
    view.refresh()
    agg = IncrementalAggView(
        spark, str(tmp_path / "agg"), view.table, group_by=["d_tier"],
        aggs={"n": ("count", "*"), "total": ("sum", "amount")},
        strategy="delta",
    )
    agg.refresh()
    # move cust 1 from gold to a new tier; fact churn too
    right.merge(
        spark.createDataFrame([(1, "cust1", "plat", "U")], R_OPS), op_col="op"
    )
    left.merge(
        spark.createDataFrame([(0, 1, 50.0, "U")], L_OPS), op_col="op"
    )
    view.refresh()
    agg.refresh()
    got = {
        r["d_tier"]: (r["n"], r["total"]) for r in agg.read().collect()
    }
    want = {
        r["d_tier"]: (r["n"], r["total"])
        for r in recompute(left, right, "left")
        .groupBy("d_tier")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("amount").cast("decimal(18,6)"))
            .cast("decimal(28,6)").cast("double").alias("total"),
        )
        .collect()
    }
    assert got == want


def test_right_delta_plan_is_shuffle_free(spark, tmp_path):
    """Physical plan of the dimension-delta recompute: the index probe
    is a broadcast semi join over the pruned bucket scan, the affected
    facts read is a broadcast semi join, and the enrichment join itself
    broadcasts the (delta-bounded) dimension side — for a batch-sized
    window NOTHING shuffles (no Exchange hashpartitioning before the
    persisted-frame boundary)."""
    left, right = make_tables(spark, tmp_path, n_left=24, n_right=8)
    view = IncrementalJoinView(
        spark, str(tmp_path / "v"), left, right, on=["cust"],
        right_prefix="d_", n_buckets=4,
    )
    view.refresh()
    right.merge(
        spark.createDataFrame([(3, "three", "t3", "U")], R_OPS), op_col="op"
    )
    view.capture_plans = True
    view.refresh()
    plan = view.last_plan
    assert plan is not None
    # persisted `aff` embeds its own (already-materialized) plan — judge
    # shuffle-freedom only on the live section before the cache boundary
    live = plan.split("InMemoryRelation")[0]
    assert "Exchange hashpartitioning" not in live
    assert "BroadcastHashJoin" in live
    assert_converged(view, "left")


def test_index_probe_over_local_keys_does_not_shuffle(spark, tmp_path):
    """The index probe restricts by a broadcast semi join, whose output
    does not depend on duplicate build keys — so a driver-resident key
    frame with repeats goes in as is, with no dedup shuffle in front."""
    left, right = make_tables(spark, tmp_path, n_left=24, n_right=8)
    view = IncrementalJoinView(
        spark, str(tmp_path / "v"), left, right, on=["cust"],
        right_prefix="d_", n_buckets=4,
    )
    view.refresh()
    rkeys = spark.createDataFrame([(3,), (3,), (5,)], "cid long")
    probe = view._probe_index(rkeys, broadcast=True)
    plan = probe._jdf.queryExecution().executedPlan().toString()
    assert "Exchange hashpartitioning" not in plan
    got = sorted(tuple(r) for r in probe.select("cust", "oid").collect())
    assert got == [(c, o) for c in (3, 5) for o in range(24) if o % 8 == c]


def test_mor_merge_mode_converges_and_compacts(spark, tmp_path):
    """merge_mode='mor': refreshes commit O(delta) bytes (delta/eqdel
    files accrue on the view), reads still converge through the gate,
    and a compact() folds the backlog with state unchanged."""
    left, right = make_tables(spark, tmp_path)
    view = IncrementalJoinView(
        spark, str(tmp_path / "v"), left, right, on=["cust"],
        right_prefix="d_", n_buckets=4, merge_mode="mor",
    )
    view.refresh()
    left.merge(
        spark.createDataFrame(
            [(0, 3, 9.0, "U"), (1, None, None, "D")], L_OPS
        ),
        op_col="op",
    )
    right.merge(
        spark.createDataFrame([(2, "c2x", "t2", "U")], R_OPS), op_col="op"
    )
    view.refresh()
    assert_converged(view, "left")
    snap = view.table.snapshot()
    assert snap.delete_source_files or any(
        f.get("kind") == "delta" for f in snap.files
    )
    view.table.compact()
    assert_converged(view, "left")
    snap2 = view.table.snapshot()
    assert not snap2.delete_source_files


def test_fuzz_crashes_and_maintenance_interleaved(spark, tmp_path):
    """Crash-injection fuzz: refreshes randomly die before the index
    merge or between the index and view merges, compactions interleave
    on both sources, and every recovery refresh must still converge to
    the full recompute with the index mirroring the final fks."""
    rng = random.Random(11)
    left, right = make_tables(spark, tmp_path, n_left=24, n_right=6)
    view = IncrementalJoinView(
        spark, str(tmp_path / "v"), left, right, on=["cust"],
        right_prefix="d_", n_buckets=4,
    )
    view.refresh()
    next_oid = 200
    for step in range(8):
        if rng.random() < 0.8:
            rows = {}
            live = [r["oid"] for r in left.read().select("oid").collect()]
            for _ in range(rng.randint(1, 4)):
                roll = rng.random()
                if roll < 0.4 and live:
                    oid = rng.choice(live)
                    rows[oid] = (oid, rng.randrange(8), float(step), "U")
                elif roll < 0.6 and live:
                    oid = rng.choice(live)
                    rows[oid] = (oid, None, None, "D")
                else:
                    rows[next_oid] = (next_oid, rng.randrange(8), 1.0, "U")
                    next_oid += 1
            left.merge(spark.createDataFrame(list(rows.values()), L_OPS),
                       op_col="op")
        if rng.random() < 0.5:
            rows = {}
            for _ in range(rng.randint(1, 2)):
                cid = rng.randrange(8)
                rows[cid] = (
                    (cid, None, None, "D") if rng.random() < 0.3
                    else (cid, f"s{step}_{cid}", "t", "U")
                )
            right.merge(spark.createDataFrame(list(rows.values()), R_OPS),
                        op_col="op")
        if rng.random() < 0.3:
            (left if rng.random() < 0.5 else right).compact()
        crash = rng.random()
        if crash < 0.2:
            # die before anything committed (index merge explodes);
            # quiet/maintenance windows may not reach it — tolerate
            view.index.merge = lambda *a, **k: (_ for _ in ()).throw(
                RuntimeError("crash-pre-index")
            )
            try:
                view.refresh()
            except RuntimeError:
                pass
            finally:
                del view.index.merge
        elif crash < 0.4:
            # die between the index merge and the view merge
            orig = view._merge_view
            view._merge_view = lambda *a, **k: (_ for _ in ()).throw(
                RuntimeError("crash-post-index")
            )
            try:
                view.refresh()
            except RuntimeError:
                pass
            finally:
                view._merge_view = orig
        view.refresh()
        assert_converged(view, "left")
    idx = sorted(tuple(r) for r in view.index.read().collect())
    want = sorted(
        tuple(r)
        for r in left.read().filter(F.col("cust").isNotNull())
        .select("cust", "oid").collect()
    )
    assert idx == want


def test_refresh_leaves_no_cached_rdds(spark, tmp_path):
    """Every frame a refresh persists (change feed, changed right keys,
    affected-keys set) is unpersisted before return — a long-running
    refresh cadence must not fill executor storage with dead cache."""
    before = spark.sparkContext._jsc.getPersistentRDDs().size()
    left, right = make_tables(spark, tmp_path, n_left=12, n_right=4)
    view = IncrementalJoinView(
        spark, str(tmp_path / "v"), left, right, on=["cust"],
        right_prefix="d_", n_buckets=4,
    )
    view.refresh()
    left.merge(
        spark.createDataFrame([(0, 2, 5.0, "U")], L_OPS), op_col="op"
    )
    right.merge(
        spark.createDataFrame([(1, "x", "t", "U")], R_OPS), op_col="op"
    )
    view.refresh()
    assert spark.sparkContext._jsc.getPersistentRDDs().size() == before


def test_right_evolution_refuses_reopen(spark, tmp_path):
    """The dimension payload set is part of the pinned definition: a
    right-side add_column reopened under the old materialized state
    would enrich only refreshed rows (silent divergence) — the reopen
    must refuse with the rebuild recovery spelled out."""
    left, right = make_tables(spark, tmp_path)
    IncrementalJoinView(
        spark, str(tmp_path / "v"), left, right, on=["cust"],
        right_prefix="d_", n_buckets=4,
    ).refresh()
    right.add_column("region", "string")
    with pytest.raises(ValueError, match="payload column set changed"):
        IncrementalJoinView(
            spark, str(tmp_path / "v"), left, right, on=["cust"],
            right_prefix="d_", n_buckets=4,
        )


def test_left_evolution_flows_through(spark, tmp_path):
    """A LEFT-side add_column needs no pin: untouched rows read as NULL
    on both the view and a fresh join; churned rows carry the value
    through the refresh (merge evolves the view schema)."""
    left, right = make_tables(spark, tmp_path, n_left=10, n_right=4)
    view = IncrementalJoinView(
        spark, str(tmp_path / "v"), left, right, on=["cust"],
        right_prefix="d_", n_buckets=4,
    )
    view.refresh()
    left.add_column("chan", "string")
    ops = T.StructType(
        list(left.schema.fields) + [T.StructField("op", T.StringType())]
    )
    left.merge(
        spark.createDataFrame([(0, 1, 2.0, "web", "U")], ops), op_col="op"
    )
    view.refresh()
    got = sorted(
        tuple(r) for r in view.read()
        .select("oid", "cust", "amount", "chan", "d_name").collect()
    )
    r = right.read().select("cid", F.col("name").alias("d_name"))
    want = sorted(
        tuple(x)
        for x in left.read()
        .join(r, F.col("cust") == F.col("cid"), "left")
        .select("oid", "cust", "amount", "chan", "d_name")
        .collect()
    )
    assert got == want
    assert ("web" in {t[3] for t in got}) and (None in {t[3] for t in got})


def test_fuzz_random_churn_vs_recompute(spark, tmp_path):
    """Randomized convergence: interleaved fact/dim churn batches with
    refreshes at random points must always match the full recompute."""
    rng = random.Random(7)
    left, right = make_tables(spark, tmp_path, n_left=30, n_right=6)
    view = IncrementalJoinView(
        spark, str(tmp_path / "v"), left, right, on=["cust"],
        right_prefix="d_", n_buckets=4,
    )
    view.refresh()
    next_oid = 100
    for step in range(6):
        if rng.random() < 0.8:  # fact batch
            rows = []
            live = [r["oid"] for r in left.read().select("oid").collect()]
            for _ in range(rng.randint(1, 5)):
                roll = rng.random()
                if roll < 0.4 and live:
                    oid = rng.choice(live)
                    rows.append(
                        (oid, rng.randrange(8), rng.uniform(-5, 5), "U")
                    )
                elif roll < 0.6 and live:
                    rows.append((rng.choice(live), None, None, "D"))
                else:
                    rows.append(
                        (next_oid, rng.randrange(10), 1.0, "U")
                    )
                    next_oid += 1
            dedup: dict[int, tuple] = {}
            for r in rows:  # merge contract: one row per key per batch
                dedup[r[0]] = r
            left.merge(
                spark.createDataFrame(list(dedup.values()), L_OPS), op_col="op"
            )
        if rng.random() < 0.6:  # dim batch
            rows = []
            for _ in range(rng.randint(1, 3)):
                cid = rng.randrange(10)
                if rng.random() < 0.3:
                    rows.append((cid, None, None, "D"))
                else:
                    rows.append((cid, f"n{step}_{cid}", "t", "U"))
            # one op per key per batch
            seen: dict[int, tuple] = {}
            for r in rows:
                seen[r[0]] = r
            right.merge(
                spark.createDataFrame(list(seen.values()), R_OPS), op_col="op"
            )
        if rng.random() < 0.7:
            view.refresh()
    view.refresh()
    assert_converged(view, "left")


def test_crash_recovery_heals_index_when_retention_outran_window(
    spark, tmp_path
):
    """Crash leaves the index at lv1 > view's ll; before recovery the
    left table churns AND expires snapshots past lv1, so the recovery
    feed table_changes(il, lv) is gone. _recover_index must fall back to
    an index-only overwrite (bounded heal) and still converge."""
    left, right = make_tables(spark, tmp_path)
    view = IncrementalJoinView(
        spark, str(tmp_path / "v"), left, right, on=["cust"],
        right_prefix="d_", n_buckets=4,
    )
    view.refresh()
    left.merge(
        spark.createDataFrame([(0, 5, 100.0, "U")], L_OPS), op_col="op"
    )
    real = view._merge_view
    try:
        view._merge_view = lambda *a, **k: (_ for _ in ()).throw(
            RuntimeError("crash")
        )
        with pytest.raises(RuntimeError):
            view.refresh()
    finally:
        view._merge_view = real
    il = view._index_applied()
    assert il == left.current_version()
    # post-crash churn (fk revert) + retention sweep past the crash mark
    left.merge(
        spark.createDataFrame([(0, 0, 100.0, "U")], L_OPS), op_col="op"
    )
    left.expire_snapshots(keep_last=1)
    st = view.refresh()
    # view itself may need the rebuild self-heal (its own window expired
    # too) — either path must converge with an exact index
    assert_converged(view, "left")
    idx = sorted(tuple(r) for r in view.index.read().collect())
    want = sorted(
        tuple(r)
        for r in left.read().filter(F.col("cust").isNotNull())
        .select("cust", "oid").collect()
    )
    assert idx == want
