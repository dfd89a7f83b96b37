"""Anti-entropy sync: fingerprint divergence detection, bucket-pruned
diff, idempotent repair (lake/sync.py)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from etl_spark.lake import LakeTable
from etl_spark.lake.sync import bucket_fingerprints, diff_tables, repair_replica

SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType()),
        T.StructField("turn_idx", T.IntegerType()),
        T.StructField("role", T.StringType()),
        T.StructField("text", T.StringType()),
    ]
)

ROWS = [
    ("c%03d" % i, t, "user" if t % 2 == 0 else "assistant", f"msg {i}.{t}")
    for i in range(40)
    for t in range(3)
]


def make_pair(spark, tmp_path, n_buckets_replica=8):
    p = LakeTable.create(
        spark, str(tmp_path / "p"), SCHEMA, key=["conv_id", "turn_idx"],
        n_buckets=8, bucket_by=["conv_id"],
    )
    p.append(spark.createDataFrame(ROWS, SCHEMA))
    r = LakeTable.create(
        spark, str(tmp_path / "r"), SCHEMA, key=["conv_id", "turn_idx"],
        n_buckets=n_buckets_replica, bucket_by=["conv_id"],
    )
    r.append(p.read())
    return p, r


def state(t):
    return {tuple(r) for r in t.read().collect()}


def test_identical_tables_no_diff_no_commit(spark, tmp_path):
    p, r = make_pair(spark, tmp_path)
    v = r.current_version()
    out = repair_replica(p, r)
    assert out["divergent_buckets"] == [] and out["repaired"] == 0
    assert r.current_version() == v  # no empty commit


def test_detects_and_repairs_all_corruption_classes(spark, tmp_path):
    p, r = make_pair(spark, tmp_path)
    # delete some rows, mutate others (incl. a value -> NULL flip),
    # insert alien extras
    sch = T.StructType(SCHEMA.fields + [T.StructField("op", T.StringType())])
    corrupt = spark.createDataFrame(
        [
            ("c001", 0, None, None, "D"),
            ("c002", 1, "assistant", "tampered", "U"),
            ("c003", 2, "assistant", None, "U"),     # NULL flip
            ("zz-alien", 0, "user", "not on primary", "U"),
        ],
        sch,
    )
    r.merge(corrupt, op_col="op")
    assert state(r) != state(p)
    diff, info = diff_tables(p, r)
    got = {(x["conv_id"], x["turn_idx"], x["__op"]) for x in diff.collect()}
    assert got == {
        ("c001", 0, "U"),        # missing on replica -> re-upsert
        ("c002", 1, "U"),        # mutated -> overwrite with primary's row
        ("c003", 2, "U"),
        ("zz-alien", 0, "D"),    # extra on replica -> delete
    }
    out = repair_replica(p, r)
    assert out["repaired"] == 4
    assert state(r) == state(p)
    # idempotent: a second repair finds nothing and commits nothing
    v = r.current_version()
    again = repair_replica(p, r)
    assert again["repaired"] == 0 and r.current_version() == v


def test_diff_reads_only_divergent_buckets(spark, tmp_path):
    p, r = make_pair(spark, tmp_path)
    sch = T.StructType(SCHEMA.fields + [T.StructField("op", T.StringType())])
    r.merge(
        spark.createDataFrame([("c007", 1, "x", "bad", "U")], sch), op_col="op"
    )
    diff, info = diff_tables(p, r)
    assert len(info["divergent_buckets"]) == 1
    (b,) = info["divergent_buckets"]
    # the corrupted conversation hashes to exactly that bucket
    snap = p.snapshot()
    got_b = (
        spark.createDataFrame([("c007",)], "conv_id string")
        .select(p._bucket_expr(snap).alias("b"))
        .collect()[0]["b"]
    )
    assert got_b == b
    # the pruned diff read plans only that bucket's files on the primary
    files = p._read_buckets({b}).inputFiles()
    assert files and all(f"__bucket={b}/" in f for f in files)


def test_repairs_replica_with_different_bucket_layout(spark, tmp_path):
    p, r = make_pair(spark, tmp_path, n_buckets_replica=3)
    sch = T.StructType(SCHEMA.fields + [T.StructField("op", T.StringType())])
    r.merge(
        spark.createDataFrame(
            [("c010", 0, None, None, "D"), ("alien", 1, "a", "x", "U")], sch
        ),
        op_col="op",
    )
    out = repair_replica(p, r)
    assert out["repaired"] == 2
    assert state(r) == state(p)


def test_null_shift_between_columns_is_detected(spark, tmp_path):
    """xxhash64 skips NULL inputs; the per-column null flags make
    ('x', NULL) vs (NULL, 'x') hash differently."""
    p, r = make_pair(spark, tmp_path)
    sch = T.StructType(SCHEMA.fields + [T.StructField("op", T.StringType())])
    # primary row is (role='user', text='msg 5.0'); shift a value across
    # columns keeping the multiset of non-null values identical
    p.merge(
        spark.createDataFrame([("c005", 0, "same", None, "U")], sch), op_col="op"
    )
    r.merge(
        spark.createDataFrame([("c005", 0, None, "same", "U")], sch), op_col="op"
    )
    diff, info = diff_tables(p, r)
    assert {(x["conv_id"], x["turn_idx"]) for x in diff.collect()} == {("c005", 0)}
    repair_replica(p, r)
    assert state(r) == state(p)


def test_schema_evolution_flows_through_repair(spark, tmp_path):
    p, r = make_pair(spark, tmp_path)
    wide = T.StructType(SCHEMA.fields + [T.StructField("tool", T.StringType())])
    p.append(
        spark.createDataFrame([("c900", 0, "assistant", "calls", "search")], wide)
    )
    out = repair_replica(p, r)
    assert out["repaired"] >= 1
    assert "tool" in [f.name for f in r.schema.fields]
    assert state(r) == state(p)


def _scan_triples(t):
    snap = t.snapshot()
    cols = [f.name for f in snap.schema.fields]
    return {
        r["bucket"]: (r["n_rows"], r["xor_fp"], r["sum_fp"])
        for r in bucket_fingerprints(
            t.read(), t._bucket_expr(snap), cols
        ).collect()
    }


def _view_triples(v):
    return {
        r["bucket"]: (r["n_rows"], r["xor_fp"], r["sum_fp"])
        for r in v.fingerprints().collect()
    }


def test_fingerprint_view_tracks_scan_through_churn(spark, tmp_path):
    from etl_spark.lake.sync import FingerprintView

    p, _ = make_pair(spark, tmp_path)
    v = FingerprintView(spark, str(tmp_path / "fp"), p)
    v.refresh()  # initial build
    assert _view_triples(v) == _scan_triples(p)
    sch = T.StructType(SCHEMA.fields + [T.StructField("op", T.StringType())])
    # churn batch 1: update + delete + insert
    p.merge(
        spark.createDataFrame(
            [
                ("c001", 0, "user", "EDITED", "U"),
                ("c002", 1, None, None, "D"),
                ("c777", 0, "user", "brand new", "U"),
            ],
            sch,
        ),
        op_col="op",
    )
    # churn batch 2: delete the whole conversation inserted above
    p.merge(
        spark.createDataFrame([("c777", 0, None, None, "D")], sch), op_col="op"
    )
    out = v.refresh()
    assert out["refreshed_through"] == p.current_version()
    assert _view_triples(v) == _scan_triples(p)
    # refresh is idempotent at the watermark
    assert v.refresh()["no_op"] is True


def test_fingerprint_view_maintenance_and_schema_evolution(spark, tmp_path):
    from etl_spark.lake.sync import FingerprintView

    p, _ = make_pair(spark, tmp_path)
    v = FingerprintView(spark, str(tmp_path / "fp"), p)
    v.refresh()
    # compaction changes files, not rows: watermark-only advance
    p.compact()
    out = v.refresh()
    assert out.get("maintenance_only") is True
    assert _view_triples(v) == _scan_triples(p)
    # adding a column changes every null-flagged row hash -> auto rebuild
    wide = T.StructType(SCHEMA.fields + [T.StructField("tool", T.StringType())])
    p.append(spark.createDataFrame([("c500", 0, "a", "x", "search")], wide))
    out = v.refresh()
    assert out.get("rebuilt") is True
    assert _view_triples(v) == _scan_triples(p)


def test_zero_scan_detection_via_views(spark, tmp_path):
    from etl_spark.lake.sync import FingerprintView

    p, r = make_pair(spark, tmp_path)
    pv = FingerprintView(spark, str(tmp_path / "pfp"), p)
    rv = FingerprintView(spark, str(tmp_path / "rfp"), r)
    pv.refresh()
    rv.refresh()
    diff, info = diff_tables(p, r, primary_fps=pv, replica_fps=rv)
    assert info["divergent_buckets"] == []
    # replica diverges; its view keeps up via its own change feed
    sch = T.StructType(SCHEMA.fields + [T.StructField("op", T.StringType())])
    r.merge(
        spark.createDataFrame([("c004", 2, "x", "drift", "U")], sch), op_col="op"
    )
    rv.refresh()
    out = repair_replica(p, r, primary_fps=pv)  # replica scan-side this time
    assert out["repaired"] == 1 and state(r) == state(p)
    # a stale view refuses to vouch for the table
    r.merge(
        spark.createDataFrame([("c004", 2, "y", "again", "U")], sch), op_col="op"
    )
    with pytest.raises(ValueError, match="stale"):
        diff_tables(p, r, primary_fps=pv, replica_fps=rv)


def test_fingerprint_view_rebuilds_after_rebucket(spark, tmp_path):
    """rebucket() is row-content maintenance, but it RE-KEYS every
    triple: the view must rebuild under the new layout, never
    fast-forward its watermark with stale bucket keys."""
    from etl_spark.lake.sync import FingerprintView

    p, _ = make_pair(spark, tmp_path)
    v = FingerprintView(spark, str(tmp_path / "fp"), p)
    v.refresh()
    p.rebucket(16)
    out = v.refresh()
    assert out.get("rebuilt") is True
    assert _view_triples(v) == _scan_triples(p)
    # and the triples really are keyed under the NEW 16-bucket layout
    assert max(_view_triples(v)) >= 8 or len(_view_triples(v)) > 8


def test_fingerprint_view_rides_streaming_cadence(spark, tmp_path):
    """FingerprintView satisfies the same duck-typed refresh() contract
    as the derived views, so CdcStream keeps it current per micro-batch —
    continuous anti-entropy readiness at change-feed cost."""
    from etl_spark.cdc import ChangelogSpec, generate_changelog, write_changelog
    from etl_spark.cdc.changelog import TRANSCRIPTS_SCHEMA
    from etl_spark.lake.sync import FingerprintView
    from etl_spark.streaming import CdcStream

    spec = ChangelogSpec(n_conversations=40, churn=1.5, n_partitions=2)
    write_changelog(generate_changelog(spec), str(tmp_path / "wal"), spec)
    table = LakeTable.create(
        spark, str(tmp_path / "t"), TRANSCRIPTS_SCHEMA,
        key=["conv_id", "turn_idx"], n_buckets=8, bucket_by=["conv_id"],
    )
    v = FingerprintView(spark, str(tmp_path / "fp"), table)
    stream = CdcStream(
        spark, str(tmp_path / "wal"), table, str(tmp_path / "state"),
        views=[v],
    )
    stats = stream.run_to_completion()
    assert any("view_refreshes" in s for s in stats)
    assert v.last_applied()[0] == table.current_version()
    assert _view_triples(v) == _scan_triples(table)


def test_fingerprints_are_per_bucket_triples(spark, tmp_path):
    p, _ = make_pair(spark, tmp_path)
    snap = p.snapshot()
    cols = [f.name for f in snap.schema.fields]
    fps = bucket_fingerprints(p.read(), p._bucket_expr(snap), cols).collect()
    assert 0 < len(fps) <= snap.n_buckets
    assert sum(r["n_rows"] for r in fps) == len(ROWS)


def test_repair_catalog_converges_members_in_one_flip(spark, tmp_path):
    """Catalog-level anti-entropy: corrupt two members of a replicated
    catalog out-of-band; repair_catalog converges each against the
    primary's PINNED cut and flips the replica catalog ONCE; a missing
    member and a primary-dropped extra are reported, not touched; a
    second repair finds nothing and commits nothing."""
    from etl_spark.lake import Catalog
    from etl_spark.lake.replicate import CatalogReplicator
    from etl_spark.lake.sync import repair_catalog

    def mk(name, rows):
        t = LakeTable.create(
            spark, str(tmp_path / name), SCHEMA,
            key=["conv_id", "turn_idx"], n_buckets=4, bucket_by=["conv_id"],
        )
        t.append(spark.createDataFrame(rows, SCHEMA))
        return t

    a = mk("a", ROWS[:30])
    b = mk("b", ROWS[30:60])
    cat = Catalog.create(spark, str(tmp_path / "cat"))
    cat.register("a", a)
    cat.register("b", b)
    rep = Catalog.create(spark, str(tmp_path / "replica"))
    CatalogReplicator(spark, cat, rep, str(tmp_path / "work")).tick()

    # out-of-band corruption on BOTH replica chains
    ra, rb = rep.table("a"), rep.table("b")
    ra.delete_where("turn_idx = 1")
    rb.merge(
        spark.createDataFrame([("zz", 9, "user", "alien")], SCHEMA)
    )
    assert state(ra) != state(a) and state(rb) != state(b)
    # primary topology drift: one new member, one replica-only extra
    c = mk("c", ROWS[60:70])
    cat.register("c", c)
    orphan = mk("orphan", ROWS[70:75])
    rep.register("orphan", orphan)

    base = rep.current_version()
    out = repair_catalog(cat, rep)
    assert rep.current_version() == base + 1  # ONE flip for both repairs
    assert out["tables"]["c"] == "missing"
    assert out["extra"] == ["orphan"]
    assert out["tables"]["a"]["repaired"] > 0
    assert out["tables"]["b"]["repaired"] > 0
    assert state(rep.table("a")) == state(a)
    assert state(rep.table("b")) == state(b)
    # catalog READS (pinned) see the repaired cut
    assert {tuple(r) for r in rep.read("a").collect()} == state(a)

    again = repair_catalog(cat, rep)
    assert rep.current_version() == base + 1  # converged: no commit
    assert all(
        v == "missing" or v["repaired"] == 0
        for v in again["tables"].values()
    )
