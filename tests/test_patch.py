"""Partial-update (patch) CDC: fold semantics, end-to-end apply, batch
associativity vs a full-log pandas oracle, Debezium TOAST adaptation,
schema evolution via patches, and the no-target-shuffle plan contract."""

from __future__ import annotations

import datetime as dt
import json
import os

import pandas as pd
import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from etl_spark.cdc.patch import apply_patches, fold_patches, resolve_patches
from etl_spark.lake import LakeTable
from etl_spark.sources.debezium import (
    DEBEZIUM_UNAVAILABLE,
    parse_debezium,
    toast_to_patches,
)

TS0 = dt.datetime(2020, 1, 1)


def ts(s: int) -> dt.datetime:
    return TS0 + dt.timedelta(seconds=s)


EV_SCHEMA = T.StructType([
    T.StructField("user_id", T.LongType()),
    T.StructField("ts", T.TimestampType()),
    T.StructField("lsn", T.LongType()),
    T.StructField("op", T.StringType()),
    T.StructField("event_type", T.StringType()),
    T.StructField("value", T.DoubleType()),
    T.StructField("touched", T.ArrayType(T.StringType())),
])

TBL_SCHEMA = T.StructType([
    T.StructField("user_id", T.LongType()),
    T.StructField("event_type", T.StringType()),
    T.StructField("value", T.DoubleType()),
    T.StructField("ts", T.TimestampType()),
])


def make_table(spark, tmp_path, n_buckets=4):
    return LakeTable.create(
        spark, str(tmp_path / "t"), TBL_SCHEMA, key=["user_id"],
        n_buckets=n_buckets,
    )


def test_fold_patches_column_wise_lww(spark):
    df = spark.createDataFrame([
        (1, ts(1), 1, "I", "a", 1.0, None),
        (1, ts(2), 2, "U", "b", 99.0, ["event_type"]),   # 99.0 NOT touched
        (1, ts(3), 3, "U", None, None, ["value"]),        # explicit NULL value
        (2, ts(1), 4, "U", "x", 5.0, ["event_type"]),     # patch, no insert
        (3, ts(1), 5, "I", "q", 7.0, None),
        (3, ts(2), 6, "D", None, None, None),
    ], EV_SCHEMA)
    out = {
        r["user_id"]: r
        for r in fold_patches(df, key=["user_id"], order_by=["ts", "lsn"])
        .collect()
    }
    # key 1: event_type set at lsn 2, value explicitly NULLed at lsn 3
    assert out[1]["op"] == "U"
    assert out[1]["event_type"]["v"] == "b"
    assert out[1]["value"] is not None and out[1]["value"]["v"] is None
    assert out[1]["ts"] == ts(3) and out[1]["lsn"] == 3
    # key 2: value never touched in the batch -> NULL WRAPPER (keep stored)
    assert out[2]["event_type"]["v"] == "x"
    assert out[2]["value"] is None
    # key 3: last event is a delete
    assert out[3]["op"] == "D"


def test_delete_then_patch_never_leaks_predelete_values(spark, tmp_path):
    table = make_table(spark, tmp_path)
    b1 = spark.createDataFrame(
        [(1, ts(1), 1, "I", "keep?", 42.0, None)], EV_SCHEMA
    )
    apply_patches(table, b1, key=["user_id"], order_by=["ts", "lsn"])
    # delete then recreate-by-patch IN ONE BATCH: the pre-delete
    # event_type/value must not resurface for columns the patch left out
    b2 = spark.createDataFrame([
        (1, ts(2), 2, "D", None, None, None),
        (1, ts(3), 3, "U", None, 7.0, ["value"]),
    ], EV_SCHEMA)
    apply_patches(table, b2, key=["user_id"], order_by=["ts", "lsn"])
    row = table.read().collect()[0]
    assert row["value"] == 7.0
    assert row["event_type"] is None  # NOT "keep?"


def test_apply_patches_end_to_end(spark, tmp_path):
    table = make_table(spark, tmp_path)
    b1 = spark.createDataFrame([
        (1, ts(1), 10, "I", "a", 1.5, None),
        (2, ts(1), 11, "I", "x", 9.0, None),
        (3, ts(1), 12, "I", "q", 4.0, None),
    ], EV_SCHEMA)
    stats1 = apply_patches(table, b1, key=["user_id"], order_by=["ts", "lsn"])
    assert stats1["rows_applied"] == 3
    b2 = spark.createDataFrame([
        (1, ts(2), 20, "U", "b", None, ["event_type"]),
        (1, ts(3), 21, "U", None, None, ["value"]),
        (2, ts(2), 22, "D", None, None, None),
        (2, ts(3), 23, "U", None, 7.0, ["value"]),
        (3, ts(2), 24, "D", None, None, None),
        (4, ts(2), 25, "U", "new", None, ["event_type"]),
    ], EV_SCHEMA)
    apply_patches(table, b2, key=["user_id"], order_by=["ts", "lsn"])
    got = {r["user_id"]: r for r in table.read().collect()}
    assert set(got) == {1, 2, 4}
    assert (got[1]["event_type"], got[1]["value"]) == ("b", None)
    assert (got[2]["event_type"], got[2]["value"]) == (None, 7.0)
    assert (got[4]["event_type"], got[4]["value"]) == ("new", None)
    # order columns in the table schema carry the last event's order;
    # ones not in the schema (lsn) must NOT have been evolved in
    assert got[1]["ts"] == ts(3)
    assert "lsn" not in table.schema.fieldNames()


def test_fold_patches_wide_payload_and_unknown_op(spark):
    """40 payload columns fold in one aggregation (plan must not blow
    up), and an UNKNOWN op never clobbers columns (it should have been
    dead-lettered; the fold treats it as touching nothing)."""
    n = 40
    fields = [T.StructField("k", T.LongType()), T.StructField("ts", T.TimestampType()),
              T.StructField("lsn", T.LongType()), T.StructField("op", T.StringType()),
              T.StructField("touched", T.ArrayType(T.StringType()))]
    fields += [T.StructField(f"c{i}", T.LongType()) for i in range(n)]
    sch = T.StructType(fields)
    base = tuple(i for i in range(n))
    rows = [
        (1, ts(1), 1, "I", None) + base,
        (1, ts(2), 2, "U", ["c3"]) + tuple(999 if i == 3 else None for i in range(n)),
        (1, ts(3), 3, "X", None) + tuple(-1 for _ in range(n)),  # unknown op
    ]
    out = fold_patches(
        spark.createDataFrame(rows, sch), key=["k"], order_by=["ts", "lsn"]
    ).collect()[0]
    assert out["c3"]["v"] == 999
    assert all(out[f"c{i}"]["v"] == i for i in range(n) if i != 3)
    # the unknown op became the LAST event but touched nothing and is
    # not a delete -> op stays upsert, values unpolluted
    assert out["op"] == "U" and out["lsn"] == 3


def _pandas_patch_oracle(pdf: pd.DataFrame) -> dict:
    """Sequential per-event replay of the patch semantics in plain
    Python — the trusted reference for the associativity test."""
    state: dict = {}
    for r in pdf.sort_values(["ts", "lsn"]).itertuples():
        k = r.user_id
        if r.op == "D":
            state.pop(k, None)
            state[("tomb", k)] = True  # deletion leaves no trace; marker unused
            continue
        row = state.get(k, {"event_type": None, "value": None})
        if r.op == "I":
            row = {"event_type": r.event_type, "value": r.value}
        else:
            if "event_type" in r.touched:
                row = dict(row, event_type=r.event_type)
            if "value" in r.touched:
                row = dict(row, value=r.value)
        state[k] = row
    return {k: v for k, v in state.items() if not isinstance(k, tuple)}


def test_batched_apply_equals_full_log_oracle(spark, tmp_path):
    """3 ts-ordered batches through apply_patches == sequential replay of
    the full log (fold associativity + resolution correctness), on a
    deterministic pseudo-random 240-event log over 24 keys."""
    rows = []
    for i in range(240):
        k = (i * 7919) % 24
        h = (i * 104729) % 100
        op = "D" if h < 10 else ("I" if h < 30 else "U")
        touched = [["value"], ["event_type"], ["value", "event_type"]][h % 3]
        et = f"t{h % 5}" if (op == "I" or "event_type" in touched) else None
        val = float(h) if (op == "I" or "value" in touched) else None
        if op == "D":
            et, val, touched = None, None, None
        rows.append((k, ts(i), i, op, et, val, touched if op == "U" else None))
    df = spark.createDataFrame(rows, EV_SCHEMA)
    table = make_table(spark, tmp_path, n_buckets=8)
    for b in range(3):
        batch = df.filter(
            (F.col("lsn") >= b * 80) & (F.col("lsn") < (b + 1) * 80)
        )
        apply_patches(table, batch, key=["user_id"], order_by=["ts", "lsn"])
    got = {
        r["user_id"]: (r["event_type"], r["value"])
        for r in table.read().collect()
    }
    exp = {
        k: (v["event_type"], v["value"])
        for k, v in _pandas_patch_oracle(df.toPandas()).items()
    }
    assert got == exp


def test_toast_sentinel_roundtrip(spark, tmp_path):
    """Debezium stream where an update ships the TOAST sentinel for an
    unchanged big column: full-row MERGE would destroy the stored text;
    toast_to_patches + apply_patches preserves it."""
    payload_schema = T.StructType([
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
    ])
    def env(lsn, op, after):
        return json.dumps({"payload": {
            "before": None, "after": after,
            "source": {"lsn": lsn, "ts_ms": 1577836800000 + lsn * 1000,
                       "table": "t"},
            "op": op, "ts_ms": 1577836800000 + lsn * 1000,
        }})

    envelopes = [
        env(1, "c", {"user_id": 1, "event_type": "big-toasted-text",
                     "value": 1.0}),
        env(2, "u", {"user_id": 1, "event_type": DEBEZIUM_UNAVAILABLE,
                     "value": 2.5}),
    ]
    raw = spark.createDataFrame([(e,) for e in envelopes], ["value_json"])
    parsed = parse_debezium(
        raw.withColumnRenamed("value_json", "value_raw"),
        payload_schema, value_col="value_raw",
    )
    assert parsed.filter(F.col("_corrupt").isNotNull()).count() == 0
    chg = toast_to_patches(
        parsed.drop("_corrupt"), ["event_type", "value"]
    ).withColumn("ts", F.col("ts"))
    # the sentinel row is a patch touching only `value`
    t2 = {r["lsn"]: r["touched"] for r in chg.collect()}
    assert t2[2] == ["value"]
    table = make_table(spark, tmp_path)
    # Debezium has no insert-op distinction post-normalization (c/r/u -> U
    # full images with all columns touched) — patch apply handles that:
    # row 1 touches everything, row 2 only `value`
    apply_patches(table, chg, key=["user_id"], order_by=["ts", "lsn"])
    row = table.read().collect()[0]
    assert row["event_type"] == "big-toasted-text"  # survived the sentinel
    assert row["value"] == 2.5


def test_patch_schema_evolution_new_column(spark, tmp_path):
    """A patch stream can introduce a NEW payload column: the merge
    evolves the table schema; rows the batch didn't touch read NULL."""
    table = make_table(spark, tmp_path)
    b1 = spark.createDataFrame([
        (1, ts(1), 1, "I", "a", 1.0, None),
        (2, ts(1), 2, "I", "b", 2.0, None),
    ], EV_SCHEMA)
    apply_patches(table, b1, key=["user_id"], order_by=["ts", "lsn"])
    ev2 = T.StructType(
        EV_SCHEMA.fields + [T.StructField("tool", T.StringType())]
    )
    b2 = spark.createDataFrame(
        [(1, ts(2), 3, "U", None, None, ["tool"], "search")], ev2
    )
    apply_patches(table, b2, key=["user_id"], order_by=["ts", "lsn"])
    got = {r["user_id"]: r for r in table.read().collect()}
    assert got[1]["tool"] == "search"
    assert got[1]["event_type"] == "a"  # untouched by the patch
    assert got[2]["tool"] is None


def test_patch_mor_mode_matches_cow(spark, tmp_path):
    """mode='mor' patches (resolved rows land as delta files, no bucket
    rewrite) converge to the same state as copy-on-write."""
    logs = [
        [(1, ts(1), 1, "I", "a", 1.0, None), (2, ts(1), 2, "I", "b", 2.0, None)],
        [(1, ts(2), 3, "U", "a2", None, ["event_type"]),
         (2, ts(2), 4, "D", None, None, None)],
        [(2, ts(3), 5, "U", None, 9.0, ["value"])],
    ]
    finals = []
    for mode in ("cow", "mor"):
        tdir = tmp_path / mode
        tdir.mkdir()
        table = make_table(spark, tdir)
        for batch in logs:
            apply_patches(
                table, spark.createDataFrame(batch, EV_SCHEMA),
                key=["user_id"], order_by=["ts", "lsn"], mode=mode,
            )
        finals.append(sorted(
            (r["user_id"], r["event_type"], r["value"])
            for r in table.read().collect()
        ))
    assert finals[0] == finals[1] == [(1, "a2", 1.0), (2, None, 9.0)]


def _patch_wal_rows():
    """Deterministic 160-event patch log over 30 transcript keys.
    Conversations are routed to a WAL partition by hash (per-key
    in-order delivery, the binlog contract); lsn/ts globally ascending."""
    rows = []
    for i in range(160):
        conv = f"c{(i * 13) % 10}"
        turn = (i * 7) % 3
        h = (i * 104729) % 100
        op = "D" if h < 8 else ("I" if h < 30 else "U")
        touched = [["role"], ["text"], ["tool"], ["role", "text"]][h % 4]
        role = f"r{h % 3}" if (op == "I" or "role" in touched) else None
        text = f"t{h}" if (op == "I" or "text" in touched) else None
        tool = f"tool{h % 2}" if (op == "I" or "tool" in touched) else None
        if op == "D":
            role = text = tool = None
        rows.append(dict(
            op=op, lsn=i, ts=ts(i + 1), conv_id=conv, turn_idx=turn,
            role=role, text=text, tool=tool,
            touched=touched if op == "U" else None,
            part=int(conv[1:]) % 2,
        ))
    return rows


def _sequential_patch_oracle(rows):
    state = {}
    for r in sorted(rows, key=lambda r: (r["ts"], r["lsn"])):
        k = (r["conv_id"], r["turn_idx"])
        if r["op"] == "D":
            state.pop(k, None)
        elif r["op"] == "I":
            state[k] = {"role": r["role"], "text": r["text"], "tool": r["tool"]}
        else:
            cur = state.get(k, {"role": None, "text": None, "tool": None})
            state[k] = {
                c: (r[c] if c in r["touched"] else cur[c])
                for c in ("role", "text", "tool")
            }
    return state


def _write_patch_wal(tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq

    rows = _patch_wal_rows()
    wal = tmp_path / "wal"
    pa_schema = pa.schema([
        ("op", pa.string()), ("lsn", pa.int64()), ("ts", pa.timestamp("us")),
        ("conv_id", pa.string()), ("turn_idx", pa.int32()),
        ("role", pa.string()), ("text", pa.string()), ("tool", pa.string()),
        ("touched", pa.list_(pa.string())),
    ])
    mtime = 1_600_000_000
    for part in (0, 1):
        pdir = wal / f"source_partition={part}"
        pdir.mkdir(parents=True)
        mine = [r for r in rows if r["part"] == part]
        half = len(mine) // 2
        for i, seg in enumerate((mine[:half], mine[half:])):
            cols = {
                k: [r[k] for r in seg]
                for k in ("op", "lsn", "ts", "conv_id", "turn_idx",
                          "role", "text", "tool", "touched")
            }
            path = pdir / f"seg-{i:05d}.parquet"
            pq.write_table(pa.table(cols, schema=pa_schema), str(path))
            # FileStreamSource orders by mtime: segment i of BOTH
            # partitions lands before segment i+1 of either
            os.utime(path, (mtime + i * 100, mtime + i * 100))
    return rows, wal


def test_stream_patch_wal_converges_exactly_once(spark, tmp_path):
    """A partial-update WAL tailed by CdcStream(patch_touched_col=...):
    cross-micro-batch patches resolve against stored state, the final
    table equals a sequential per-event replay, and a restarted stream
    over the same state applies nothing."""
    rows, wal = _write_patch_wal(tmp_path)

    from etl_spark.cdc.changelog import TRANSCRIPTS_SCHEMA
    from etl_spark.streaming import CdcStream

    table = LakeTable.create(
        spark, str(tmp_path / "t"), TRANSCRIPTS_SCHEMA,
        key=["conv_id", "turn_idx"], n_buckets=8, bucket_by=["conv_id"],
    )
    state = str(tmp_path / "state")
    stream = CdcStream(
        spark, str(wal), table, state, max_files_per_trigger=1,
        patch_touched_col="touched",
    )
    stats = stream.run_to_completion()
    assert len([s for s in stats if not s.get("skipped")]) >= 2
    got = {
        (r["conv_id"], r["turn_idx"]): (r["role"], r["text"], r["tool"])
        for r in table.read().collect()
    }
    exp = {
        k: (v["role"], v["text"], v["tool"])
        for k, v in _sequential_patch_oracle(rows).items()
    }
    assert got == exp
    # exactly-once: a restarted stream over the same state applies nothing
    v_before = table.current_version()
    stats2 = CdcStream(
        spark, str(wal), table, state, max_files_per_trigger=1,
        patch_touched_col="touched",
    ).run_to_completion()
    assert all(s.get("skipped") or s.get("rows_applied", 0) == 0
               for s in stats2)
    assert table.current_version() == v_before


def test_stream_patch_wal_mor_patch_deferred(spark, tmp_path):
    """Same patch WAL, merge_mode='mor_patch': every micro-batch commits
    O(batch) patch-delta files (no stored-row read), the backlog trigger
    compacts mid-stream, and the converged state still equals the
    sequential per-event oracle."""
    rows, wal = _write_patch_wal(tmp_path)

    from etl_spark.cdc.changelog import TRANSCRIPTS_SCHEMA
    from etl_spark.streaming import CdcStream

    table = LakeTable.create(
        spark, str(tmp_path / "t"), TRANSCRIPTS_SCHEMA,
        key=["conv_id", "turn_idx"], n_buckets=8, bucket_by=["conv_id"],
    )
    stream = CdcStream(
        spark, str(wal), table, str(tmp_path / "state"),
        max_files_per_trigger=1, patch_touched_col="touched",
        merge_mode="mor_patch", compact_when_delta_rows=60,
    )
    stats = stream.run_to_completion()
    applied = [s for s in stats if not s.get("skipped")]
    assert len(applied) >= 2
    assert all(s.get("mode") == "patch" for s in applied)  # truly deferred
    got = {
        (r["conv_id"], r["turn_idx"]): (r["role"], r["text"], r["tool"])
        for r in table.read().collect()
    }
    exp = {
        k: (v["role"], v["text"], v["tool"])
        for k, v in _sequential_patch_oracle(rows).items()
    }
    assert got == exp
    # the backlog trigger really fired at least once mid-stream
    assert any(s.get("delta_backlog_rows", 0) >= 60 for s in applied)


def test_unknown_touched_name_dead_letters_and_mor_patch_guards(spark, tmp_path):
    """A typo'd touched name must dead-letter (the fold would otherwise
    silently discard the update); mor_patch rejects lww_by and a missing
    patch column up front."""
    from etl_spark.cdc.apply import apply_batch
    from etl_spark.cdc.changelog import TRANSCRIPTS_SCHEMA

    table = LakeTable.create(
        spark, str(tmp_path / "t"), TRANSCRIPTS_SCHEMA,
        key=["conv_id", "turn_idx"], n_buckets=4, bucket_by=["conv_id"],
    )
    ev = T.StructType([
        T.StructField("conv_id", T.StringType()),
        T.StructField("turn_idx", T.IntegerType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("lsn", T.LongType()),
        T.StructField("op", T.StringType()),
        T.StructField("role", T.StringType()),
        T.StructField("text", T.StringType()),
        T.StructField("tool", T.StringType()),
        T.StructField("touched", T.ArrayType(T.StringType())),
    ])
    batch = spark.createDataFrame([
        ("c1", 0, ts(1), 1, "I", "user", "hello", None, None),
        ("c1", 0, ts(2), 2, "U", "oops", None, None, ["roIe"]),  # typo
        ("c1", 1, ts(2), 3, "U", "ok", None, None, ["role"]),
    ], ev)
    stats = apply_batch(
        spark, batch, table, patch_touched_col="touched",
        dead_letter_dir=str(tmp_path / "dl"),
    )
    assert stats["rows_failed"] == 1 and stats["rows_in"] == 2
    got = {(r["conv_id"], r["turn_idx"]): r["role"]
           for r in table.read().collect()}
    assert got == {("c1", 0): "user", ("c1", 1): "ok"}  # typo'd row dropped
    with pytest.raises(ValueError, match="requires patch_touched_col"):
        apply_batch(spark, batch, table, merge_mode="mor_patch")
    with pytest.raises(ValueError, match="does not support merge_lww_by"):
        apply_batch(
            spark, batch, table, patch_touched_col="touched",
            merge_mode="mor_patch", merge_lww_by=["ts", "lsn"],
        )


def test_patch_resolution_plan_is_broadcast_only(spark, tmp_path):
    """The resolution read must never shuffle the table side: exactly one
    Exchange (the fold's groupBy), every join broadcast, no sort-merge."""
    table = make_table(spark, tmp_path, n_buckets=8)
    seed = spark.createDataFrame(
        [(i, ts(1), i, "I", f"e{i}", float(i), None) for i in range(50)],
        EV_SCHEMA,
    )
    apply_patches(table, seed, key=["user_id"], order_by=["ts", "lsn"])
    batch = spark.createDataFrame(
        [(i, ts(2), 100 + i, "U", None, float(i) * 2, ["value"])
         for i in range(0, 50, 5)],
        EV_SCHEMA,
    )
    folded = fold_patches(batch, key=["user_id"], order_by=["ts", "lsn"])
    folded.persist().count()  # apply_patches persists the fold likewise
    try:
        # contract 1: the stored-row read never shuffles the table side —
        # the key restriction is a broadcast semi join, zero shuffle
        # exchanges anywhere in that subtree
        stored = table.read_for_key_frame(folded)
        splan = stored._jdf.queryExecution().executedPlan().toString()
        # text below the cache boundary is the fold's ALREADY-MATERIALIZED
        # plan (its own groupBy shuffle) — only the live plan above it counts
        live = splan.split("InMemoryRelation", 1)[0]
        assert "Exchange hashpartitioning" not in live, splan
        assert "BroadcastHashJoin" in live and "LeftSemi" in live, splan
        # contract 2: the full resolution is broadcast-only — no
        # sort-merge join, both joins (semi + left resolution) broadcast
        resolved = resolve_patches(table, folded)
        plan = resolved._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" not in plan, plan
        assert plan.count("BroadcastHashJoin") >= 2, plan
    finally:
        folded.unpersist()
