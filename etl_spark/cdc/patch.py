"""Partial-update (patch) CDC events: fold + resolve + MERGE.

Real change streams are not always full-row: Postgres TOAST columns arrive
as an "unchanged" sentinel under Debezium, MySQL can ship minimal binlog
row images, Mongo emits ``$set`` patches. The reference engine gets patch
semantics for free from its schema-less row maps — a ``Transform(Data)``
row that carries only some keys IS a partial update merged into the
destination map (/root/reference/etl.go:36-39, SURVEY.md §1.1). On a
columnar lake table the same semantics need an explicit column-wise
last-writer-wins fold plus a read-before-write resolution against the
stored rows. This module provides exactly that, shaped for 10^10-event
scale:

- ``fold_patches`` is ONE ``groupBy(key)`` of column-wise ``max(struct)``
  aggregates — map-side combinable (a hot key's million patches collapse
  before the shuffle), no window sort, no Python. The trick that keeps it
  a single pass: inserts AND deletes "touch" every column (a delete
  touches them with NULL), so delete-then-patch recreation can never leak
  pre-delete values and no per-key boundary scan is needed.
- ``resolve_patches`` turns folded patches into full rows: stored values
  for columns the batch never touched come from a bucket-pruned,
  broadcast-semi-joined read of ONLY the affected buckets
  (``LakeTable.read_for_key_frame``) — the target table is never
  shuffled, mirroring the merge's own broadcast discipline.
- ``apply_patches`` orchestrates fold -> resolve -> ``LakeTable.merge``;
  the bucket histogram computed for pruning is reused as the merge's
  ``per_bucket`` sizing so the whole patch apply costs two actions
  (histogram + write), the same driver-action budget as a full-row
  ``apply_batch``.

Event contract: ``op_col`` in {insert, update, delete}; update rows carry
``touched_col`` (array<string>) naming the payload columns they set — a
column absent from ``touched`` keeps its stored value, a column PRESENT
with a NULL value is an explicit set-to-NULL (the distinction Debezium's
unavailable-value sentinel encodes, and the one a NULL-means-absent
encoding cannot express). Insert rows are full images; delete rows need
no payload.

Cross-batch ordering: batches must be applied in event order (the usual
streaming-tail discipline). ``lww_by`` composes for whole-ROW staleness
(a replayed or stale batch is skipped per key), but column-level
interleaving ACROSS out-of-order batches is intentionally out of scope —
fold order inside a batch is exact.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from etl_spark.lake import LakeTable

_WRAP = "v"


def fold_patches(
    df: DataFrame,
    key: Sequence[str] = ("conv_id", "turn_idx"),
    order_by: Sequence[str] = ("ts", "lsn"),
    op_col: str = "op",
    touched_col: str = "touched",
    insert_op: str = "I",
    update_op: str = "U",
    delete_op: str = "D",
) -> DataFrame:
    """Column-wise LWW fold: one row per key, each payload column as a
    nullable ``struct<v>`` wrapper — a NULL wrapper means "no event in
    this batch touched the column" (keep stored), a non-NULL wrapper
    carries the latest set value, which may itself be NULL (explicit
    set-to-NULL). ``op_col`` on the result is ``delete_op`` iff the
    key's LAST event is a delete, else ``update_op``; ``order_by``
    columns carry the last event's order (so ``lww_by`` merges compose).

    Single aggregation, map-side combinable: per column the candidate is
    ``max(struct(order..., struct(value)))`` over events that touch it.
    Inserts touch every column; deletes touch every column WITH NULL —
    so a key recreated by patches after an in-batch delete gets NULL
    (not stale pre-delete values) for columns no later patch set.
    """
    key = list(key)
    order_by = [c for c in order_by if c in df.columns]
    payload = [
        c
        for c in df.columns
        if c not in key and c not in order_by and c not in (op_col, touched_col)
    ]
    if not order_by:
        raise ValueError("fold_patches needs at least one order_by column")
    ordc = [F.col(c) for c in order_by]
    op = F.col(op_col)

    aggs = [F.max(F.struct(*ordc, op.alias("__op"))).alias("__last")]
    for c in payload:
        dt = df.schema[c].dataType
        touched = F.coalesce(
            F.array_contains(F.col(touched_col), F.lit(c)), F.lit(False)
        )
        # inserts/deletes touch every column; updates only the listed
        # ones; UNKNOWN ops touch nothing (they should have been
        # dead-lettered upstream — never let them clobber columns)
        present = F.when(op == F.lit(update_op), touched).otherwise(
            op.isin(insert_op, delete_op)
        )
        val = (
            F.when(op == F.lit(delete_op), F.lit(None).cast(dt))
            .otherwise(F.col(c))
        )
        packed = F.when(
            present, F.struct(*ordc, F.struct(val.alias(_WRAP)).alias("__p"))
        )
        aggs.append(F.max(packed).alias(f"__f_{c}"))

    agg = df.groupBy(*key).agg(*aggs)
    return agg.select(
        *key,
        *[F.col(f"__last.{c}").alias(c) for c in order_by],
        F.when(F.col("__last.__op") == F.lit(delete_op), F.lit(delete_op))
        .otherwise(F.lit(update_op))
        .alias(op_col),
        *[F.col(f"__f_{c}.__p").alias(c) for c in payload],
    )


def patch_payload_columns(folded: DataFrame) -> list[str]:
    """Payload columns of a ``fold_patches`` result: the single-field
    ``struct<v>`` wrappers (the fold's column convention)."""
    return [
        f.name
        for f in folded.schema.fields
        if isinstance(f.dataType, T.StructType)
        and f.dataType.fieldNames() == [_WRAP]
    ]


def folded_to_patch_rows(
    folded: DataFrame,
    key: Sequence[str],
    op_col: str = "op",
    touched_col: str = "touched",
    extra_set_cols: Sequence[str] = (),
) -> DataFrame:
    """Unwrap a ``fold_patches`` result into the plain-row shape
    ``LakeTable.commit_patches`` stores: payload values unwrapped, plus a
    ``touched`` array naming the columns this patch sets (wrapper
    non-NULL), so explicit set-to-NULL survives the round trip.
    ``extra_set_cols`` (e.g. the event-time column when the table stores
    it) are carried as always-touched plain values."""
    payload = patch_payload_columns(folded)
    extra = [c for c in extra_set_cols if c in folded.columns]
    touched = F.array_compact(
        F.array(
            *[F.when(F.col(c).isNotNull(), F.lit(c)) for c in payload],
            *[F.lit(c) for c in extra],
        )
    )
    return folded.select(
        *key,
        *extra,
        F.col(op_col),
        *[F.col(c)[_WRAP].alias(c) for c in payload],
        touched.alias(touched_col),
    )


def resolve_patches(
    table: LakeTable,
    folded: DataFrame,
    op_col: str = "op",
    buckets: set[int] | None = None,
    broadcast: bool = True,
) -> DataFrame:
    """Full-row merge source from folded patches: untouched columns take
    the stored value (bucket-pruned ``read_for_key_frame`` — only the
    affected buckets are read, the table side is never shuffled and the
    key restriction broadcasts while the batch is small), keys new to the
    table get NULL for untouched columns, columns new to the TABLE
    (schema evolution arriving via patches) get NULL for unmatched rows.
    The resolution join itself is batch-sized on both sides."""
    snap = table.snapshot(buckets=set())
    key = list(snap.key)
    payload = patch_payload_columns(folded)
    order_keep = [
        c for c in folded.columns
        if c not in key and c not in payload and c != op_col
    ]
    stored_cols = [c for c in snap.schema.fieldNames() if c in payload]
    stored = table.read_for_key_frame(
        folded, buckets=buckets, broadcast=broadcast
    ).select(*key, *stored_cols)
    if broadcast:
        # the semi-join bounds stored to <= one row per batch key, so the
        # resolution join is map-side too: the folded frame keeps its
        # fold-shuffle partitioning, nothing re-shuffles
        stored = F.broadcast(stored)

    f, s = folded.alias("__f"), stored.alias("__s")
    j = f.join(s, on=key, how="left")
    out = []
    for c in payload:
        base = (
            F.col(f"__s.{c}")
            if c in stored_cols
            else F.lit(None).cast(folded.schema[c].dataType[_WRAP].dataType)
        )
        out.append(
            F.when(F.col(f"__f.{c}").isNotNull(), F.col(f"__f.{c}.{_WRAP}"))
            .otherwise(base)
            .alias(c)
        )
    return j.select(
        *key,
        *[F.col(f"__f.{c}").alias(c) for c in order_keep],
        F.col(f"__f.{op_col}").alias(op_col),
        *out,
    )


def apply_patches(
    table: LakeTable,
    events: DataFrame,
    key: Sequence[str] = ("conv_id", "turn_idx"),
    order_by: Sequence[str] = ("ts", "lsn"),
    op_col: str = "op",
    touched_col: str = "touched",
    insert_op: str = "I",
    update_op: str = "U",
    delete_op: str = "D",
    mode: str = "cow",
    lww_by: list[str] | None = None,
    broadcast_threshold: int = 200_000,
    op_note: str | None = None,
) -> dict[str, int]:
    """Fold a patch-event batch and MERGE it: fold -> resolve (stored
    values for untouched columns) -> ``LakeTable.merge``. Exactly two
    actions per batch — the bucket histogram (reused as the merge's
    ``per_bucket`` sizing, so the merge itself adds no counting job) and
    the write. The folded frame is persisted across those two jobs and
    always unpersisted. ``mode``/``lww_by`` pass through to the merge
    (mor patches work: the resolved rows are full images).

    ``mode="mor_patch"`` skips resolution entirely and commits the fold
    as patch-delta files (``LakeTable.commit_patches``): NO stored-row
    read per batch — column resolution defers to the read gate and to
    compaction. The highest-frequency shape; ``lww_by`` is not
    supported with it."""
    folded = fold_patches(
        events,
        key=key,
        order_by=order_by,
        op_col=op_col,
        touched_col=touched_col,
        insert_op=insert_op,
        update_op=update_op,
        delete_op=delete_op,
    ).persist()
    try:
        per_bucket = table.bucket_histogram(folded)
        total = sum(per_bucket.values())
        if total == 0:
            return {"source_rows": 0, "rewritten_buckets": 0}
        if mode == "mor_patch":
            if lww_by is not None:
                raise ValueError("mode='mor_patch' does not support lww_by")
            tbl_cols = set(table.snapshot(buckets=set()).schema.fieldNames())
            rows = folded_to_patch_rows(
                folded, key=list(key), op_col=op_col,
                touched_col=touched_col,
                extra_set_cols=[c for c in order_by if c in tbl_cols],
            )
            _snap, stats = table.commit_patches(
                rows, touched_col=touched_col, op_col=op_col,
                delete_op=delete_op, per_bucket=per_bucket, op_note=op_note,
            )
            return stats
        small = total <= broadcast_threshold
        resolved = resolve_patches(
            table,
            folded,
            op_col=op_col,
            buckets=set(per_bucket),
            broadcast=small,
        )
        if lww_by is None:
            # order columns only matter past the fold when the merge
            # guards on them — otherwise don't evolve them into the table
            tbl_cols = set(table.snapshot(buckets=set()).schema.fieldNames())
            drop = [c for c in order_by if c in resolved.columns
                    and c not in tbl_cols]
            if drop:
                resolved = resolved.drop(*drop)
        _snap, stats = table.merge(
            resolved,
            op_col=op_col,
            delete_op=delete_op,
            per_bucket=per_bucket,
            lww_by=lww_by,
            mode=mode,
            op_note=op_note,
            broadcast_threshold=broadcast_threshold,
            # the folded frame is cached and key-unique: handing its keys
            # to the merge skips re-executing the resolution subtree (and
            # its bucket scan) for the survivors anti-join
            source_keys=folded,
        )
        return stats
    finally:
        folded.unpersist()
