"""Per-bucket content-addressed manifests: commit metadata is O(touched
buckets), manifests are reused across snapshots and GC'd on expiry."""

from __future__ import annotations

import json
import os

from pyspark.sql import types as T

from etl_spark.lake import LakeTable

SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType()),
        T.StructField("turn_idx", T.IntegerType()),
        T.StructField("text", T.StringType()),
    ]
)
OPS = T.StructType(list(SCHEMA.fields) + [T.StructField("op", T.StringType())])


def make(spark, path, n_buckets=8):
    return LakeTable.create(
        spark, str(path), SCHEMA, key=["conv_id", "turn_idx"],
        n_buckets=n_buckets, bucket_by=["conv_id"],
    )


def refs(table, version):
    with open(table._snap_path(version)) as fh:
        return set(json.load(fh)["manifest_refs"])


def test_untouched_bucket_manifests_are_reused(spark, tmp_path):
    t = make(spark, tmp_path / "t")
    # seed every bucket
    rows = [(f"c{i}", 0, "seed", "U") for i in range(64)]
    t.merge(spark.createDataFrame(rows, OPS), op_col="op")
    v1 = t.current_version()
    # second merge touches ONE conversation -> one bucket
    t.merge(spark.createDataFrame([("c0", 0, "v2", "U")], OPS), op_col="op")
    v2 = t.current_version()
    r1, r2 = refs(t, v1), refs(t, v2)
    shared = r1 & r2
    # every untouched bucket's manifest is re-referenced verbatim
    assert len(shared) >= len(r1) - 1
    assert r2 != r1  # the touched bucket got a new manifest
    # and state is intact
    assert t.read().count() == 64


def test_identical_content_hashes_to_same_manifest(spark, tmp_path):
    t = make(spark, tmp_path / "t")
    t.merge(spark.createDataFrame([("c1", 0, "a", "U")], OPS), op_col="op")
    v = t.current_version()
    t.rollback(v)  # same file list committed again
    assert refs(t, v) == refs(t, t.current_version())


def test_expire_gcs_unreferenced_manifests(spark, tmp_path):
    t = make(spark, tmp_path / "t")
    for i in range(4):
        t.merge(
            spark.createDataFrame([("c1", 0, f"v{i}", "U")], OPS), op_col="op"
        )
    live = refs(t, t.current_version())
    t.expire_snapshots(keep_last=1)
    on_disk = {
        os.path.join("manifests", n)
        for n in os.listdir(t._manifest_dir())
        if n.endswith(".json")
    }
    assert on_disk == live
    assert t.read().count() == 1


def test_read_for_keys_opens_only_target_bucket_manifests(spark, tmp_path):
    t = make(spark, tmp_path / "t")
    rows = [(f"c{i}", 0, "x", "U") for i in range(64)]
    t.merge(spark.createDataFrame(rows, OPS), op_col="op")
    opened: list[str] = []
    orig = t._load_manifest
    t._load_manifest = lambda ref: (opened.append(ref), orig(ref))[1]
    got = t.read_for_keys(["c0"]).collect()
    assert [(r.conv_id, r.turn_idx) for r in got] == [("c0", 0)]
    # one key -> one bucket -> one manifest (8 exist)
    assert len(opened) == 1
