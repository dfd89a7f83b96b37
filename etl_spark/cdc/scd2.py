"""Incremental SCD2 apply: history-preserving CDC ingest into a lake table.

``cdc.apply`` keeps the LATEST state per key (last-writer-wins merge);
this module keeps EVERY state with its validity interval — one lake-table
row per (business key, version) carrying ``valid_from`` (inclusive),
``valid_to`` (exclusive, NULL while current), ``is_current``, and
``last_seen`` (the greatest event time observed for the key, including
heartbeats that minted no version — the exactly-once / late-data guard).

Per batch the operator is bucket-local, mirroring ``LakeTable.merge``:

1. one aggregation action yields the batch's affected buckets;
2. ONLY those buckets' files are read, filtered to current rows, and
   semi-joined (broadcast when the batch key set is small) to the
   batch's keys — at a 4k-bucket table a 1%-of-buckets batch touches 1%
   of the files;
3. current rows (as seeds carrying their version) union the new events;
   two window passes over ONE shuffle on the business key rebuild the
   affected keys' history tail: null-safe change collapse, version
   continuation from the seed, lead() closing edges;
4. the rebuilt tail upserts through the ordinary bucket-pruned MERGE
   keyed on (business key, version) — the old current row is updated in
   place (valid_to closed / last_seen advanced), new versions insert.

Events at-or-before a key's ``last_seen`` are dropped and counted
(``late_rows``): batches must arrive in event-time order per key (the
WAL replay guarantees this), and the guard is what makes re-applying a
batch after a crash a clean no-op — every event of the replayed batch is
<= last_seen, the surviving source is empty, and no snapshot is written.
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from etl_spark.lake.table import LakeTable

SCD2_ENGINE_COLS = ["valid_from", "valid_to", "is_current", "version", "last_seen"]


def scd2_schema(
    events_schema: T.StructType,
    business_key: list[str],
    time_col: str,
    payload_cols: list[str] | None = None,
    carry_cols: list[str] | None = None,
) -> T.StructType:
    """Lake-table schema for an SCD2 table fed by events of
    ``events_schema``: business key + payload + carry + the five engine
    columns. Validity columns take the event-time column's type (any
    orderable type works — the operator never assumes timestamps).
    ``carry_cols`` ride along on each version (the value of the event
    that opened it) without participating in change detection — e.g. the
    wall-clock event time when the validity axis is an LSN."""
    carry_cols = carry_cols or []
    payload_cols = payload_cols or [
        f.name for f in events_schema.fields
        if f.name not in business_key and f.name != time_col
        and f.name not in carry_cols
    ]
    tt = events_schema[time_col].dataType
    fields = [events_schema[c] for c in business_key]
    fields += [events_schema[c] for c in payload_cols]
    fields += [events_schema[c] for c in carry_cols]
    fields += [
        T.StructField("valid_from", tt),
        T.StructField("valid_to", tt),
        T.StructField("is_current", T.BooleanType()),
        T.StructField("version", T.LongType()),
        T.StructField("last_seen", tt),
    ]
    return T.StructType(fields)


def create_scd2_table(
    spark: SparkSession,
    path: str,
    events_schema: T.StructType,
    business_key: list[str],
    time_col: str,
    payload_cols: list[str] | None = None,
    carry_cols: list[str] | None = None,
    n_buckets: int = 16,
    stats_cols: list[str] | None = None,
) -> LakeTable:
    """Create the lake table an ``apply_scd2`` loop writes into: keyed on
    (business key, version), bucketed on the business key so every
    version of a key lives in one bucket (point history reads are
    single-bucket; the apply's merge rewrites only touched buckets)."""
    return LakeTable.create(
        spark, path,
        scd2_schema(events_schema, business_key, time_col, payload_cols,
                    carry_cols),
        key=list(business_key) + ["version"],
        bucket_by=list(business_key),
        n_buckets=n_buckets,
        stats_cols=stats_cols,
    )


def apply_scd2(
    table: LakeTable,
    events: DataFrame,
    time_col: str,
    tiebreak: list[str] | None = None,
    op_col: str | None = None,
    delete_op: str = "D",
    carry_cols: list[str] | None = None,
    payload_cols: list[str] | None = None,
    broadcast_threshold: int = 200_000,
) -> tuple[Any, dict[str, int]]:
    """Apply one batch of observed states to an SCD2 lake table.

    ``events`` carries the business key, the payload columns, and
    ``time_col``; ``tiebreak`` orders equal-time events deterministically
    (an LSN / event id — not persisted). Consecutive observations with an
    identical payload (null-safe comparison) mint no version but DO
    advance ``last_seen``. With ``op_col`` given, events whose op equals
    ``delete_op`` CLOSE the key's current version (valid_to = delete
    time) without minting one; a later event reopens the key at the next
    version number. Deleting an absent key is a no-op. ``carry_cols``
    (must match the table's, see ``scd2_schema``) are stored per version
    from the opening event but never participate in change detection.

    ``payload_cols`` defaults to the table's payload (schema minus key,
    engine, carry). Passing it explicitly enables SCHEMA EVOLUTION: a
    payload column the table lacks evolves onto it through the MERGE
    (existing versions read NULL for it); a payload column the events
    lack is observed as NULL (the feed carries no value for it). Both
    directions align with Lake-table ``evolve_schema`` semantics.

    Anchor contract: exactly the key's max-version row carries a
    non-NULL ``last_seen`` (even after a delete closed it) — that row is
    what the next batch's guard and version continuation read, so a
    deleted key can reopen and a replayed batch stays a no-op.

    Returns (snapshot | None, stats): stats counts ``late_rows``
    (dropped, at-or-before last_seen), ``events_applied``,
    ``versions_written``, plus the underlying merge stats.
    """
    snap = table.snapshot()
    bkey = [k for k in snap.key if k != "version"]
    carry = carry_cols or []
    if payload_cols is None:
        payload = [
            f.name for f in snap.schema.fields
            if f.name not in bkey and f.name not in SCD2_ENGINE_COLS
            and f.name not in carry
        ]
    else:
        payload = list(payload_cols)
    tb = tiebreak or []

    snap_cols = set(snap.schema.fieldNames())

    def _dtype(c: str) -> T.DataType:
        return (snap.schema if c in snap_cols else events.schema)[c].dataType

    def _ev_col(c: str):
        # a payload/carry column absent from the feed is observed as NULL
        col = F.col(c) if c in events.columns else F.lit(None).cast(_dtype(c))
        return col.alias(c)

    def _seed_col(c: str):
        # a column the table doesn't have yet (evolution) seeds as NULL
        col = F.col(c) if c in snap_cols else F.lit(None).cast(_dtype(c))
        return col.alias(c)

    is_del = (
        (F.col(op_col) == F.lit(delete_op)) if op_col is not None else F.lit(False)
    )
    src = events.select(
        *bkey, time_col, *[_ev_col(c) for c in payload + carry], *tb,
        is_del.alias("__del"),
    )
    src.persist()
    to_unpersist = [src]
    try:
        per_bucket = table.bucket_histogram(src, snap.version)
        if not per_bucket:
            return None, {"late_rows": 0, "events_applied": 0,
                          "versions_written": 0, "source_rows": 0}
        src_rows = sum(per_bucket.values())

        # anchor rows (max version per key — last_seen is non-NULL on
        # exactly that row, current or delete-closed) of affected keys,
        # from affected buckets only
        cur = table._read_buckets(set(per_bucket), snap=snap).filter(
            F.col("last_seen").isNotNull()
        )
        # no dedup: a left-semi join's output does not depend on
        # duplicate build keys
        keys = src.select(*bkey)
        if src_rows <= broadcast_threshold:
            keys = F.broadcast(keys)
        # persisted: the current-row set feeds the late guard AND the
        # seed union — without it the affected-bucket scan + semi-join
        # subtree re-evaluates per consumer (per-batch job overhead is
        # the apply loop's serial floor, same argument as merge's)
        cur = cur.join(keys, on=bkey, how="left_semi").persist()
        to_unpersist.append(cur)

        # late-data guard: an event at-or-before the key's last_seen is a
        # duplicate or out-of-order arrival — dropping it is what makes a
        # crash-replay of the same batch a no-op
        guard = cur.select(*bkey, F.col("last_seen").alias("__ls"))
        if src_rows <= broadcast_threshold:
            guard = F.broadcast(guard)
        ev = src.join(guard, on=bkey, how="left").withColumn(
            "__late", F.col("__ls").isNotNull() & (F.col(time_col) <= F.col("__ls"))
        )
        ev = ev.filter(~F.col("__late")).persist()
        to_unpersist.append(ev)
        # ONE action yields the survivor count (late = src - survivors);
        # the persisted survivors then feed live_keys + the seed union
        # without re-running the guard join
        late_rows = src_rows - ev.count()
        if late_rows == src_rows:
            # crash-replay of an already-applied batch: every event is
            # at-or-before last_seen — no snapshot, clean no-op
            return None, {"source_rows": src_rows, "late_rows": late_rows,
                          "events_applied": 0, "versions_written": 0}

        # only keys with a surviving event get their tail rebuilt (a key
        # whose events were ALL late must not be rewritten — replay no-op)
        live_keys = ev.select(*bkey)
        if src_rows <= broadcast_threshold:
            live_keys = F.broadcast(live_keys)
        cur = cur.join(live_keys, on=bkey, how="left_semi")

        # seeds (anchor rows, carrying their version) ∪ surviving events.
        # A delete-closed anchor additionally contributes a SYNTHETIC
        # delete row at its valid_to so the rebuilt ordering reproduces
        # the closing edge (consecutive-delete collapse, reopen version).
        tt = snap.schema["valid_from"].dataType
        seed_common = [
            F.col("version").alias("__seedver"),
            F.col("last_seen").alias("__seen"),
            *[F.lit(None).cast(events.schema[c].dataType).alias(f"__tb_{c}")
              for c in tb],
        ]
        seed = cur.select(
            *bkey, F.col("valid_from").alias("__t"),
            *[_seed_col(c) for c in payload + carry],
            F.lit(False).alias("__del"), *seed_common,
        )
        seed_del = cur.filter(F.col("valid_to").isNotNull()).select(
            *bkey,
            F.col("valid_to").alias("__t"),
            *[F.lit(None).cast(_dtype(c)).alias(c)
              for c in payload + carry],
            F.lit(True).alias("__del"),
            F.lit(None).cast("long").alias("__seedver"),
            F.lit(None).cast(tt).alias("__seen"),
            *[F.lit(None).cast(events.schema[c].dataType).alias(f"__tb_{c}")
              for c in tb],
        )
        new = ev.select(
            *bkey,
            F.col(time_col).alias("__t"),
            *payload,
            *carry,
            "__del",
            F.lit(None).cast("long").alias("__seedver"),
            F.col(time_col).alias("__seen"),
            *[F.col(c).alias(f"__tb_{c}") for c in tb],
        )
        u = seed.unionByName(seed_del).unionByName(new)

        wk = Window.partitionBy(*bkey)
        # order: time, then seed-before-event at equal time (seed __tb_*
        # are NULL and NULLS FIRST is the asc default), then tiebreak
        order = [F.col("__t").asc()] + [F.col(f"__tb_{c}").asc() for c in tb]
        w = Window.partitionBy(*bkey).orderBy(*order)

        u = u.withColumn("__base", F.max("__seedver").over(wk))
        u = u.withColumn("__maxseen", F.max("__seen").over(wk))
        # a delete is a distinct state: the flag joins the payload in the
        # null-safe change collapse (delete->delete collapses, X->delete
        # and delete->X are changes)
        state = F.struct(F.col("__del"), *payload)
        prev = F.lag(state).over(w)
        u = u.withColumn("__chg", ~prev.eqNullSafe(state)).filter("__chg")

        w2 = Window.partitionBy(*bkey).orderBy(*order)
        wcum = w2.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        wafter = w2.rowsBetween(1, Window.unboundedFollowing)
        nondel_one = F.when(~F.col("__del"), F.lit(1)).otherwise(F.lit(0))
        out = (
            u.select(
                *bkey,
                *payload,
                *carry,
                "__del",
                F.col("__t").alias("valid_from"),
                # closing edge over ALL kept rows: a trailing delete
                # closes its predecessor version
                F.lead("__t").over(w2).alias("valid_to"),
                (F.coalesce(F.col("__base"), F.lit(1))
                 + F.sum(nondel_one).over(wcum) - 1).cast("long").alias("version"),
                # anchor = last NON-delete kept row of the key
                (F.coalesce(F.sum(nondel_one).over(wafter), F.lit(0)) == 0)
                .alias("__anchor"),
                F.col("__maxseen").alias("__maxseen"),
            )
            .filter(~F.col("__del"))
            .drop("__del")
        )
        out = out.select(
            *bkey, *payload, *carry, "valid_from", "valid_to",
            F.col("valid_to").isNull().alias("is_current"),
            "version",
            F.when(F.col("__anchor"), F.col("__maxseen")).alias("last_seen"),
        )

        merge_snap, mstats = table.merge(out, op_col=None)
        stats = {
            "source_rows": src_rows,
            "late_rows": late_rows,
            "events_applied": src_rows - late_rows,
            "versions_written": mstats.get("rows_applied", 0),
            **{f"merge_{k}": v for k, v in mstats.items()},
        }
        return merge_snap, stats
    finally:
        for f in to_unpersist:
            f.unpersist()
