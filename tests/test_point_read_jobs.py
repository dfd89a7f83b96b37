"""Spark job counts of a point read. On a small host the cost of a read
is its job count (each AQE stage runs as its own job), so these bounds
are the read path's cost contract: a driver-resident key frame gets its
bucket set on the driver with no job, and the key restriction is one
broadcast semi join with no dedup shuffle in front of it."""

from __future__ import annotations

import itertools

import pandas as pd
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
KEY = ["conv_id", "turn_idx"]
_groups = itertools.count()


def _jobs(spark, fn):
    """(fn(), number of Spark jobs fn ran), counted through a job group."""
    sc = spark.sparkContext
    group = f"point-read-jobs-{next(_groups)}"
    prev = sc.getLocalProperty("spark.jobGroup.id")
    sc.setLocalProperty("spark.jobGroup.id", group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", prev)
    sc._jsc.sc().listenerBus().waitUntilEmpty()  # job events are async
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _table(spark, path, mor):
    t = LakeTable.create(
        spark, str(path), SCHEMA, key=KEY, n_buckets=4, bucket_by=["conv_id"]
    )
    t.append(
        spark.createDataFrame(
            [(f"c{i}", j, f"t{i}.{j}") for i in range(40) for j in range(2)],
            SCHEMA,
        )
    )
    if mor:
        ops = [(f"c{i}", 0, f"upd{i}", "U") for i in range(0, 40, 2)] + [
            (f"c{i}", 1, None, "D") for i in range(1, 40, 4)
        ]
        t.merge(spark.createDataFrame(ops, OP_SCHEMA), op_col="op", mode="mor")
        assert t.snapshot().delete_source_files
    return t


def _keys(spark, dup=False):
    pdf = pd.DataFrame(
        {"conv_id": [f"c{i}" for i in (0, 1, 5, 7, 12)], "turn_idx": [0, 1, 1, 0, 0]}
    )
    if dup:
        pdf = pd.concat([pdf, pdf, pdf.iloc[:2]], ignore_index=True)
    return spark.createDataFrame(pdf.astype({"turn_idx": "int32"}))


def test_cow_point_read_runs_at_most_two_jobs(spark, tmp_path):
    t = _table(spark, tmp_path / "t", mor=False)
    rows, n = _jobs(spark, lambda: t.read_for_key_frame(_keys(spark)).collect())
    assert sorted(tuple(r) for r in rows) == [
        ("c0", 0, "t0.0"), ("c1", 1, "t1.1"), ("c12", 0, "t12.0"),
        ("c5", 1, "t5.1"), ("c7", 0, "t7.0"),
    ]
    assert 1 <= n <= 2


def test_mor_point_read_runs_at_most_four_jobs(spark, tmp_path):
    t = _table(spark, tmp_path / "t", mor=True)
    rows, n = _jobs(spark, lambda: t.read_for_key_frame(_keys(spark)).collect())
    # c0/0 and c12/0 updated, c1/1 and c5/1 deleted, c7/0 untouched
    assert sorted(tuple(r) for r in rows) == [
        ("c0", 0, "upd0"), ("c12", 0, "upd12"), ("c7", 0, "t7.0"),
    ]
    assert 1 <= n <= 4


def test_local_bucket_histogram_runs_no_job(spark, tmp_path):
    t = _table(spark, tmp_path / "t", mor=False)
    local, n = _jobs(spark, lambda: t.bucket_histogram(_keys(spark, dup=True)))
    assert n == 0
    _keys(spark, dup=True).write.parquet(str(tmp_path / "k"))
    stored, m = _jobs(
        spark,
        lambda: t.bucket_histogram(spark.read.parquet(str(tmp_path / "k"))),
    )
    assert m >= 1  # a file-backed frame takes the aggregation path
    assert local == stored
    assert sum(local.values()) == 12


def test_duplicate_keys_read_like_their_deduped_twin(spark, tmp_path):
    for mor in (False, True):
        t = _table(spark, tmp_path / f"t{mor}", mor=mor)
        dup = t.read_for_key_frame(_keys(spark, dup=True)).collect()
        once = t.read_for_key_frame(_keys(spark)).collect()
        assert sorted(dup) == sorted(once)
        assert len(dup) == len(set(dup))


def test_wide_table_read_builds_without_a_listing_job(spark, tmp_path):
    """The manifest names every file a read opens; past Spark's stock
    parallel-listing threshold (32 paths) building the DataFrame must
    still stat them on the driver, not in a listing job."""
    t = LakeTable.create(
        spark, str(tmp_path / "t"), SCHEMA, key=KEY, n_buckets=40,
        bucket_by=["conv_id"],
    )
    t.append(
        spark.createDataFrame(
            [(f"c{i}", 0, f"t{i}") for i in range(400)], SCHEMA
        )
    )
    assert len(t.snapshot().data_files) >= 33
    _df, n = _jobs(spark, t.read)
    assert n == 0


def test_composite_read_for_keys_runs_at_most_one_job(spark, tmp_path):
    """The literal key values form a driver-resident frame, so the bucket
    set costs no job and the lookup is one bucket-pruned scan."""
    t = LakeTable.create(
        spark, str(tmp_path / "t"), SCHEMA, key=KEY, n_buckets=8,
        bucket_by=KEY,
    )
    t.append(
        spark.createDataFrame(
            [(f"c{i}", j, f"t{i}.{j}") for i in range(40) for j in range(2)],
            SCHEMA,
        )
    )
    rows, n = _jobs(
        spark, lambda: t.read_for_keys([("c3", 1), ("c17", 0)]).collect()
    )
    assert sorted(tuple(r) for r in rows) == [
        ("c17", 0, "t17.0"), ("c3", 1, "t3.1"),
    ]
    assert n <= 1
