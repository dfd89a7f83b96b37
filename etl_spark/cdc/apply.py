"""Batch apply core: last-writer-wins dedup + MERGE into the lake table.

This is the ``apply_batch`` the Structured Streaming tail calls per
micro-batch, and the bulk ``replay`` used for backfill/bootstrap. It is the
Spark-native re-expression of the reference's per-row store loop
(/root/reference/etl.go:135-224): the transformer chain becomes whole-column
expressions, the dup-key error dance (/root/reference/etl.go:205-216)
becomes an idempotent MERGE, and the row-at-a-time failed-data salvage
(/root/reference/etl.go:302-333) becomes a declarative validator split into
a dead-letter table.

Scale notes:

- **Dedup is a grouped MAX(struct), not a window.** ``row_number() OVER
  (PARTITION BY key ORDER BY ts DESC...)`` needs a full shuffle + sort and
  has no partial aggregation. ``groupBy(key).agg(max(struct(ts, lsn,
  source_partition, payload...)))`` is semantically identical for
  top-1-per-key (struct comparison is lexicographic on the leading order
  fields, which are non-null) but gets map-side partial aggregation: a hot
  key with 10^6 updates in a batch collapses to <= #map-tasks rows before
  the shuffle. That *is* the skew mitigation for the dedup stage; an
  explicit two-level salted variant is provided for degenerate cases where
  even the post-combine per-key fan-in is too wide.
- Validators are pure predicates; their accounting rides the single
  fused stats aggregation (no extra scans, no Python).
"""

from __future__ import annotations

import os
import time
from collections.abc import Callable, Sequence

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_spark.cdc.state import CommitLog, WatermarkStore, filter_by_watermarks
from etl_spark.cdc.metrics import MetricsTable
from etl_spark.lake import LakeTable
from etl_spark.lake.table import bucket_of

# Order columns, most significant first: event time, then LSN, then source
# partition (LSNs are only unique within a partition — the final tiebreak
# makes LWW fully deterministic even on ts+lsn collisions across shards).
DEFAULT_ORDER = ("ts", "lsn", "source_partition")
META_COLS = ("lsn", "source_partition", "_seq", "batch_id")


def dedup_last_writer_wins(
    df: DataFrame,
    key: Sequence[str] = ("conv_id", "turn_idx"),
    order_by: Sequence[str] = DEFAULT_ORDER,
    salted: bool = False,
    salt_buckets: int = 64,
) -> DataFrame:
    """One row per key: the last writer by lexicographic ``order_by``.

    ``salted=True`` adds an intermediate aggregation on (key, salt) before
    the final per-key max — two short shuffles instead of one, bounding
    reducer fan-in for pathological hot keys. max() is associative so the
    two-phase result is identical.
    """
    key = list(key)
    order_by = [c for c in order_by if c in df.columns]
    if not order_by:
        raise ValueError(
            "dedup_last_writer_wins needs at least one order_by column "
            "present in the frame — with none, the 'last writer' would "
            "be whichever payload sorts highest (same guard as "
            "fold_patches)"
        )
    payload = [c for c in df.columns if c not in key and c not in order_by]
    packed = F.struct(*[F.col(c) for c in order_by + payload]).alias("_lw")

    if salted:
        salt = F.pmod(F.xxhash64(*[F.col(c) for c in order_by]), F.lit(salt_buckets))
        partial = df.groupBy(*key, salt.alias("_salt")).agg(F.max(packed).alias("_lw"))
        agg = partial.groupBy(*key).agg(F.max("_lw").alias("_lw"))
    else:
        agg = df.groupBy(*key).agg(F.max(packed).alias("_lw"))
    return agg.select(
        *key, *[F.col(f"_lw.{c}").alias(c) for c in order_by + payload]
    )


def default_validators(op_col: str = "op") -> list[tuple[str, Column]]:
    """Predicate validators (name, is_valid). Mirrors the reference's
    required-field validator (/root/reference/v2/transfomer/transformers.go:22-31)
    and drop-on-error worker (/root/reference/v2/etl.go:121-129)."""
    return [
        ("key_not_null", F.col("conv_id").isNotNull() & F.col("turn_idx").isNotNull()),
        ("op_known", F.col(op_col).isin("I", "U", "D")),
        (
            "payload_present",
            (F.col(op_col) == "D")
            | (F.col("role").isNotNull() & F.col("text").isNotNull()),
        ),
    ]


def default_patch_validators(
    op_col: str = "op",
    touched_col: str = "touched",
    payload_cols: Sequence[str] | None = None,
) -> list[tuple[str, Column]]:
    """Validators for PATCH streams: payload columns are legitimately
    NULL on update rows (untouched-keeps-stored), so the full-row
    payload_present check would dead-letter every patch — instead an
    update must name at least one touched column, and (when
    ``payload_cols`` is known) every touched name must BE a payload
    column — a typo'd name would otherwise make the fold silently
    discard the update instead of dead-lettering it."""
    vals = [
        ("key_not_null", F.col("conv_id").isNotNull() & F.col("turn_idx").isNotNull()),
        ("op_known", F.col(op_col).isin("I", "U", "D")),
        (
            "touched_present",
            (F.col(op_col) != "U")
            | (F.coalesce(F.size(F.col(touched_col)), F.lit(0)) > 0),
        ),
    ]
    if payload_cols:
        known = F.array(*[F.lit(c) for c in payload_cols])
        vals.append((
            "touched_known",
            (F.col(op_col) != "U")
            | F.col(touched_col).isNull()
            | (F.size(F.array_except(F.col(touched_col), known)) == 0),
        ))
    return vals


def _select_validators(
    validators: Sequence[tuple[str, Column]] | None,
    columns: Sequence[str],
    key: Sequence[str],
    op_col: str,
    patch_touched_col: str | None,
) -> list[tuple[str, Column]]:
    """The batch's validator list: the caller's, else the patch-aware
    defaults for a patch stream (payload = the non-key, non-engine
    columns of the frame), else the full-row defaults."""
    if validators is not None:
        return list(validators)
    if patch_touched_col is None:
        return default_validators(op_col)
    payload_cols = [
        c for c in columns
        if c not in key and c not in DEFAULT_ORDER
        and c not in META_COLS and c not in (op_col, patch_touched_col)
    ]
    return default_patch_validators(op_col, patch_touched_col, payload_cols)


def _fold_validators(vals: Sequence[tuple[str, Column]]) -> tuple[Column, Column]:
    """(is_valid, error label) of a non-empty validator list. Both are
    NULL-safe: under three-valued logic a predicate that evaluates to NULL
    (e.g. op IS NULL through isin) is a failure — without the coalesce
    such rows pass neither filter nor ~filter and vanish with no
    dead-letter record and no accounting. The label names the first
    failing validator."""
    pred = vals[0][1]
    for _, p in vals[1:]:
        pred = pred & p
    err = F.coalesce(
        *[F.when(~F.coalesce(p, F.lit(False)), F.lit(name)) for name, p in vals],
        F.lit("unknown"),
    )
    return F.coalesce(pred, F.lit(False)), err


def _account(
    df: DataFrame,
    bucket: Column,
    valid_pred: Column,
    dest: Column | None = None,
) -> dict:
    """ALL batch accounting in ONE aggregation pass: per-(source partition
    x target bucket) valid/failed counts + applied-LSN range via
    conditional aggregation, grouped per destination too when ``dest`` is
    given. One collect replaces separate dead-letter count, per-partition
    stats, and the merge's own per-bucket count — per-micro-batch driver
    actions (scheduling, planning, codegen) are the serial floor that caps
    streaming throughput and scaling, so each extra job per batch is real
    money.

    Returns ``{dest value (None without dest): (per_bucket valid-row
    histogram, per-partition rows)}``; a partition row carries
    ``source_partition``, ``rows_in``, ``rows_failed``, ``low_lsn`` and
    ``high_lsn``."""
    group = [
        F.col("source_partition")
        if "source_partition" in df.columns
        else F.lit(-1).alias("source_partition"),
        bucket.alias("_bucket"),
    ]
    if dest is not None:
        group.insert(0, dest.alias("_dest"))
    lsn = F.col("lsn") if "lsn" in df.columns else F.lit(None).cast("long")
    cells = (
        df.groupBy(*group)
        .agg(
            F.count(F.when(valid_pred, 1)).alias("rows_in"),
            F.count(F.when(~valid_pred, 1)).alias("rows_failed"),
            F.min(F.when(valid_pred, lsn)).alias("low_lsn"),
            F.max(F.when(valid_pred, lsn)).alias("high_lsn"),
        )
        .collect()
    )
    # roll the (partition x bucket) cells up both ways
    out: dict = {}
    for c in cells:
        per_bucket, parts = out.setdefault(
            c["_dest"] if dest is not None else None, ({}, {})
        )
        if c["rows_in"]:
            per_bucket[c["_bucket"]] = per_bucket.get(c["_bucket"], 0) + c["rows_in"]
        p = parts.setdefault(
            c["source_partition"],
            {"source_partition": c["source_partition"], "rows_in": 0,
             "rows_failed": 0, "low_lsn": None, "high_lsn": None},
        )
        p["rows_in"] += c["rows_in"]
        p["rows_failed"] += c["rows_failed"]
        for k, fn in (("low_lsn", min), ("high_lsn", max)):
            if c[k] is not None:
                p[k] = c[k] if p[k] is None else fn(p[k], c[k])
    return {d: (pb, list(parts.values())) for d, (pb, parts) in out.items()}


def _dead_letter(
    df: DataFrame, valid_pred: Column, err: Column, dir_: str, batch_id: int
) -> None:
    """Write the batch's failed rows with their error label. One subdir
    per batch, overwritten: a batch retry (merge failure after this
    write) re-writes the same rows instead of appending duplicates —
    dead-letter output is idempotent like the merge itself."""
    df.filter(~valid_pred).withColumn("error", err).withColumn(
        "batch_id", F.lit(batch_id).cast("long")
    ).write.mode("overwrite").parquet(os.path.join(dir_, f"batch={batch_id}"))


def _checkpoint(
    spark: SparkSession,
    stats: dict,
    t0: float,
    *,
    source: str,
    batch_id: int,
    commit_log: CommitLog | None,
    metrics: MetricsTable | None,
    metric_rows: Sequence[dict] = (),
    watermark_store: WatermarkStore | None = None,
    applied_parts: Sequence[dict] | None = None,
) -> dict:
    """The batch epilogue, in checkpoint-after-commit order (the
    reference's, /root/reference/v2/etl.go:196-207): advance the
    watermarks to the high LSN per partition of ``applied_parts`` (the
    partition rows of an applied batch; None skips the advance), write the
    (source, batch_id) commit marker, stamp ``latency_ms`` and record the
    metric rows (each gets the batch id, the latency and, unless it sets
    one, a NULL ``rows_applied``: applied counts exist only at batch grain,
    the dedup crosses partitions). Returns ``stats``."""
    if watermark_store is not None and applied_parts is not None:
        high: dict[int, int] = {}
        for r in applied_parts:
            if r["high_lsn"] is not None:
                sp = r["source_partition"]
                high[sp] = max(high.get(sp, r["high_lsn"]), r["high_lsn"])
        watermark_store.advance(high)
    if commit_log is not None:
        commit_log.commit(source, batch_id, stats)
    stats["latency_ms"] = int((time.time() - t0) * 1000)
    if metrics is not None and metric_rows:
        batch = {"batch_id": batch_id, "latency_ms": stats["latency_ms"]}
        metrics.record(
            spark, [{"rows_applied": None, **r, **batch} for r in metric_rows]
        )
    return stats


def apply_batch(
    spark: SparkSession,
    batch_df: DataFrame,
    table: LakeTable,
    *,
    batch_id: int = 0,
    source: str = "wal",
    op_col: str = "op",
    transform: Callable[[DataFrame], DataFrame] | None = None,
    validators: Sequence[tuple[str, Column]] | None = None,
    commit_log: CommitLog | None = None,
    watermark_store: WatermarkStore | None = None,
    metrics: MetricsTable | None = None,
    dead_letter_dir: str | None = None,
    salted_dedup: bool = False,
    transform_preserves_keys_and_validity: bool = True,
    transform_stage: str = "pre",
    merge_lww_by: Sequence[str] | None = None,
    merge_mode: str = "cow",
    patch_touched_col: str | None = None,
    skip_unchanged: bool = False,
) -> dict:
    """Apply one changelog micro-batch to the lake table, exactly once.

    ``merge_mode="mor"`` commits each batch merge-on-read (O(batch) bytes
    per micro-batch instead of rewriting every touched bucket — see
    ``LakeTable.merge``); pair it with a compaction cadence so the read-
    side delta backlog stays bounded.

    ``patch_touched_col`` switches the batch to PARTIAL-UPDATE semantics
    (cdc.patch): update events set only the columns named in that
    array<string> column, others keep their stored value. The LWW dedup
    becomes the column-wise fold, untouched columns resolve from a
    bucket-pruned broadcast read, and the default validators swap for
    patch-aware ones; accounting, commit log, watermarks and metrics are
    unchanged (same two-action budget: fused stats pass + merge write).
    ``salted_dedup`` is ignored in patch mode — the fold's map-side
    combine already collapses hot keys before the shuffle.

    ``merge_mode="mor_patch"`` (requires ``patch_touched_col``) defers
    resolution entirely: the fold commits as ``kind="patch"`` delta files
    with NO stored-row read per batch (``LakeTable.commit_patches``);
    the read gate folds them and compaction materializes. Crash-replay
    converges: a re-committed identical fold lands at a higher seq with
    the same values, and compaction collapses the redundancy.

    Pipeline: commit-log skip -> watermark filter -> transform ->
    validator split (dead-letter) -> LWW dedup -> MERGE -> advance
    watermarks -> commit-log record -> metrics row.

    The MERGE snapshot commit is the atomic point; the commit marker and
    watermarks are written after it (same ordering as the reference's
    checkpoint-after-commit, /root/reference/v2/etl.go:196-207). A crash
    between MERGE and marker replays the batch, which is a no-op on
    converged state because the deduped batch is deterministic and MERGE is
    idempotent.
    """
    t0 = time.time()
    if skip_unchanged and patch_touched_col is not None:
        raise ValueError(
            "skip_unchanged does not apply to patch batches: a patch "
            "event only carries touched columns, so no-op suppression "
            "is already structural there"
        )
    if merge_mode == "mor_patch":
        if patch_touched_col is None:
            raise ValueError(
                "merge_mode='mor_patch' requires patch_touched_col"
            )
        if transform is not None and transform_stage == "post":
            # deterministic config error: fail fast here, before any fold
            # is built/persisted and before retry_with_backoff can burn
            # attempts on it
            raise ValueError(
                "transform_stage='post' is not supported with "
                "merge_mode='mor_patch' (rows are partial)"
            )
        if merge_lww_by:
            raise ValueError(
                "merge_mode='mor_patch' does not support merge_lww_by: "
                "patch deltas carry no order columns, so the read-time "
                "fold resolves by commit seq only — out-of-order batches "
                "would silently overwrite newer state. Use the eager "
                "patch path (merge_mode='cow') with merge_lww_by instead."
            )
    if commit_log is not None and commit_log.is_committed(source, batch_id):
        return {"skipped": True, "batch_id": batch_id, "rows_applied": 0}

    raw = batch_df
    if watermark_store is not None:
        raw = filter_by_watermarks(raw, watermark_store.get_all())
    # transform_stage="post" runs the transform AFTER the LWW dedup — for a
    # row-wise payload transform (the text-normalization contract:
    # deterministic per row, touches no key/validity/order column) the
    # result is identical, and the regex/allocation work runs on one row
    # per key instead of every change event (~churn x fewer rows). Only
    # valid together with transform_preserves_keys_and_validity; non-row-
    # wise transforms (anything reading across rows) must stay "pre".
    post_transform = transform is not None and transform_stage == "post"
    if post_transform and not transform_preserves_keys_and_validity:
        raise ValueError(
            "transform_stage='post' requires a key/validity-preserving "
            "row-wise transform"
        )
    df = transform(raw) if (transform is not None and not post_transform) else raw
    # Frame the accounting pass runs on. The stats aggregation groups by
    # (source_partition, target bucket) and its bucket set is ALSO the
    # merge's affected-bucket set — so running it on the PRE-transform
    # frame is only sound when the transform rewrites neither validity NOR
    # any key/bucket_by/source_partition/lsn column. That is exactly what
    # ``transform_preserves_keys_and_validity`` promises (true for the
    # default text-normalization/role-canonicalization transforms, which
    # touch payload columns only); the payoff is a column-pruned scan with
    # no regex work, and the transform executing once, inside the
    # merge-write lineage. A transform that renames/trims/coerces a KEY
    # column MUST pass False, otherwise MERGE would anti-join the wrong
    # buckets and leave duplicate keys behind.
    stats_df = (
        raw if (transform_preserves_keys_and_validity or transform is None) else df
    )

    # No batch persist: with the fused stats pass, the batch lineage (WAL
    # scan + narrow projections) is executed exactly twice — stats agg and
    # the merge write. Re-scanning parquet is cheaper and scales with
    # cores, while the columnar cache build is allocation-bound and does
    # not; and at 10^10-event scale a cached batch wouldn't fit anyway.
    stats: dict = {"batch_id": batch_id, "source": source, "skipped": False}
    # header-only snapshot: only key/bucket_by/n_buckets/schema are needed
    # here — loading every per-bucket manifest would be pure driver
    # overhead on the per-batch serial floor
    tsnap = table.snapshot(buckets=set())
    vals = _select_validators(
        validators, df.columns, tsnap.key, op_col, patch_touched_col
    )
    if vals:
        valid_pred, err = _fold_validators(vals)
        valid = df.filter(valid_pred)
    else:
        valid_pred = F.lit(True)
        valid = df
    per_bucket, part_rows = _account(
        stats_df, bucket_of(tsnap.bucket_by, tsnap.n_buckets), valid_pred
    ).get(None, ({}, []))
    if vals:
        rows_failed = sum(r["rows_failed"] for r in part_rows)
        stats["rows_failed"] = rows_failed
        if dead_letter_dir is not None and rows_failed:
            _dead_letter(stats_df, valid_pred, err, dead_letter_dir, batch_id)
    rows_in = sum(r["rows_in"] for r in part_rows)
    stats["rows_in"] = rows_in

    def _finish(applied: bool) -> dict:
        # an all-rows-failed batch is the spike monitoring most needs to
        # see — its per-partition rows_failed are recorded too
        return _checkpoint(
            spark, stats, t0, source=source, batch_id=batch_id,
            commit_log=commit_log, metrics=metrics,
            metric_rows=[{"source": source, **r} for r in part_rows],
            watermark_store=watermark_store,
            applied_parts=part_rows if applied else None,
        )

    if rows_in == 0:
        stats["rows_applied"] = 0
        return _finish(applied=False)

    # guard order columns must survive into the merge (and hence the
    # table schema) — the guard compares the STORED order of the
    # current row/tombstone against the incoming event's
    keep = set(merge_lww_by or ())
    fold_cache = None
    patch_delta = False
    if patch_touched_col is not None:
        from etl_spark.cdc.patch import (
            fold_patches,
            folded_to_patch_rows,
            resolve_patches,
        )

        order_cols = [c for c in DEFAULT_ORDER if c in valid.columns]
        # non-order meta would otherwise be folded as payload wrappers
        fold_src = valid.drop(
            *[c for c in ("_seq", "batch_id") if c in valid.columns]
        )
        fold_cache = fold_patches(
            fold_src, key=table.key, order_by=order_cols,
            op_col=op_col, touched_col=patch_touched_col,
        ).persist()
        if merge_mode == "mor_patch":
            # deferred resolution: the fold commits AS patch deltas —
            # no stored-row read per batch, the read gate folds
            # (post_transform incompatibility already rejected at the
            # top-of-function precondition checks)
            patch_delta = True
            merge_src = folded_to_patch_rows(
                fold_cache, key=table.key, op_col=op_col,
                touched_col=patch_touched_col,
                extra_set_cols=[
                    c for c in order_cols
                    if c in tsnap.schema.fieldNames()
                ],
            )
        else:
            deduped = resolve_patches(
                table, fold_cache, op_col=op_col,
                buckets=set(per_bucket), broadcast=rows_in <= 200_000,
            )
            if post_transform:
                deduped = transform(deduped)
            merge_src = deduped.drop(*[
                c for c in order_cols
                if c not in keep and c not in tsnap.schema.fieldNames()
            ])
    else:
        deduped = dedup_last_writer_wins(
            valid, key=table.key, salted=salted_dedup
        )
        if post_transform:
            deduped = transform(deduped)
        merge_src = deduped.drop(
            *[c for c in META_COLS if c in deduped.columns and c not in keep]
        )
    try:
        if patch_delta:
            snap, merge_stats = table.commit_patches(
                merge_src, touched_col=patch_touched_col,
                op_col=op_col, per_bucket=per_bucket,
            )
        else:
            if skip_unchanged:
                # Change detection (see LakeTable.changed_only): drop
                # state-no-op rows BEFORE the merge so all-unchanged
                # buckets leave the affected set. The stats pass's
                # per_bucket counts are pre-filter, so the merge must
                # recount — one extra driver action per batch, paid
                # only when the caller opts in (full-row-image
                # upstreams where most updates are no-ops).
                merge_src = table.changed_only(
                    merge_src, op_col=op_col,
                    buckets=set(per_bucket),
                    broadcast=rows_in <= 200_000,
                    # the stats pass's histogram arms the jumbo
                    # bucket-group fallback in read_for_key_frame
                    per_bucket=per_bucket,
                    # guarded tables: an absent-key delete must still
                    # write its tombstone or a later stale upsert
                    # resurrects the row — never elide it there
                    drop_absent_deletes=not merge_lww_by,
                )
            snap, merge_stats = table.merge(
                merge_src, op_col=op_col,
                per_bucket=None if skip_unchanged else per_bucket,
                lww_by=list(merge_lww_by) if merge_lww_by else None,
                mode=merge_mode,
                # cached key-unique fold: the merge's anti-join keys
                # come from it directly instead of re-executing the
                # resolution subtree (one fewer bucket scan per batch)
                source_keys=None if skip_unchanged else fold_cache,
            )
            if skip_unchanged:
                merge_stats = dict(merge_stats)
                merge_stats["rows_unchanged_skipped"] = (
                    # pre-dedup valid rows minus post-filter source
                    # rows over-counts by in-batch duplicates; still
                    # the honest upper-bound signal without an extra
                    # pre-filter count action
                    rows_in - merge_stats.get("source_rows", 0)
                )
    finally:
        if fold_cache is not None:
            fold_cache.unpersist()
    stats.update(merge_stats)
    # Post-dedup count observed on the merge-write job — NOT the
    # pre-dedup per_bucket sum (in-batch duplicates don't count as
    # applied rows).
    stats["rows_applied"] = merge_stats.get(
        "rows_applied", merge_stats.get("source_rows", 0)
    )
    stats["table_version"] = snap.version if snap else None
    return _finish(applied=True)


def replay_dead_letters(
    spark: SparkSession,
    dead_letter_dir: str,
    table: LakeTable,
    *,
    op_col: str = "op",
    fix: Callable[[DataFrame], DataFrame] | None = None,
    validators: Sequence[tuple[str, Column]] | None = None,
    salted_dedup: bool = False,
    merge_lww_by: Sequence[str] | str | None = "auto",
    purge: bool = True,
) -> dict:
    """Re-process dead-lettered rows after the upstream defect is fixed —
    the recovery half of the reference's failed-data salvage loop
    (/root/reference/etl.go:302-333), done declaratively: read every
    ``batch=N`` subdir, apply the ``fix`` transform, re-validate, LWW-dedup
    and MERGE the now-valid rows. Rows that STILL fail validation stay
    dead-lettered.

    Recovery is inherently OUT OF ORDER — the stream has moved on since
    the rows were dead-lettered, so an unguarded merge would overwrite
    newer table state with a repaired OLD event. The merge therefore
    defaults to the guarded path (``merge_lww_by="auto"``: the engine's
    order columns present in BOTH the table schema and the payload — a
    repaired event applies only if genuinely newer than the stored row).
    Pass an explicit column list, or None to force the unguarded merge
    when the dead-letter set is known to be the newest data.

    Crash-safe ordering: the MERGE commits first; ``purge`` then rewrites
    the dead-letter directory to only the still-failed rows (single
    ``batch=requeued`` subdir) and removes the recovered batches. A crash
    between the two just re-runs — re-merging already-recovered rows is
    idempotent. Returns {rows_read, rows_recovered, rows_still_failed}.

    At scale this is a bounded job: the dead-letter set is the validator
    failure tail, orders of magnitude smaller than the stream."""
    import shutil

    batch_dirs = sorted(
        d for d in os.listdir(dead_letter_dir)
        if os.path.isdir(os.path.join(dead_letter_dir, d)) and d.startswith("batch=")
    )
    if not batch_dirs:
        return {"rows_read": 0, "rows_recovered": 0, "rows_still_failed": 0}
    df = spark.read.option("basePath", dead_letter_dir).parquet(
        *[os.path.join(dead_letter_dir, d) for d in batch_dirs]
    )
    # `batch` partition dir + recorded error are bookkeeping, not payload
    df = df.drop("batch", "error")
    if fix is not None:
        df = fix(df)
    if merge_lww_by == "auto":
        tcols = {f.name for f in table.schema.fields}
        merge_lww_by = [
            c for c in DEFAULT_ORDER if c in tcols and c in df.columns
        ] or None
    # NULL-safe: a NULL verdict (op IS NULL, or a fix() that nulls a
    # checked column) stays in the still-failed split — otherwise purge
    # would delete the row's only copy
    pred, err = _fold_validators(
        list(validators) if validators is not None else default_validators(op_col)
    )
    df.persist()
    try:
        rows_read = df.count()
        valid = df.filter(pred)
        still = df.filter(~pred)
        deduped = dedup_last_writer_wins(valid, key=table.key, salted=salted_dedup)
        keep = set(merge_lww_by or ())
        merge_src = deduped.drop(
            *[c for c in META_COLS if c in deduped.columns and c not in keep]
        )
        _snap, stats = table.merge(
            merge_src, op_col=op_col,
            lww_by=list(merge_lww_by) if merge_lww_by else None,
        )
        recovered = stats.get("rows_applied", 0)
        n_still = 0
        if purge:
            import uuid as _uuid

            # stage still-failed rows OUTSIDE the batch=* namespace, then
            # rename in BEFORE deleting the recovered batches: a crash in
            # between leaves extra rows that the idempotent MERGE collapses
            # on the next replay — never lost rows
            tmp = os.path.join(dead_letter_dir, "_requeue_tmp")
            shutil.rmtree(tmp, ignore_errors=True)
            still.withColumn("error", err).write.mode("overwrite").parquet(tmp)
            n_still = spark.read.parquet(tmp).count()
            requeue = os.path.join(
                dead_letter_dir, f"batch=requeued-{_uuid.uuid4().hex[:8]}"
            )
            os.rename(tmp, requeue)
            for d in batch_dirs:
                shutil.rmtree(os.path.join(dead_letter_dir, d))
        else:
            n_still = still.count()
        return {
            "rows_read": rows_read,
            "rows_recovered": recovered,
            "rows_still_failed": n_still,
        }
    finally:
        df.unpersist()


def replay(
    spark: SparkSession,
    changelog_df: DataFrame,
    table: LakeTable,
    *,
    op_col: str = "op",
    transform: Callable[[DataFrame], DataFrame] | None = None,
    salted_dedup: bool = False,
    transform_stage: str = "pre",
    merge_lww_by: Sequence[str] | None = None,
    mor: bool = False,
) -> dict:
    """Bulk backfill: collapse the ENTIRE changelog to final per-key state
    with one LWW dedup, then one MERGE (``mor=True`` commits it
    merge-on-read — see ``LakeTable.merge``). This is the bootstrap path — at
    10^10 events it is one shuffle on the key (with map-side combine
    reducing each key to one row per map task) + one bucketed write, the
    minimum possible data movement for CDC compaction.
    ``transform_stage='post'`` (row-wise transforms only) defers the
    transform to the deduped survivors — see apply_batch.
    ``merge_lww_by`` makes the merge out-of-order tolerant (see
    ``LakeTable.merge``) — use it when replaying on top of a table that
    may already hold newer state than the changelog being replayed."""
    post = transform is not None and transform_stage == "post"
    df = transform(changelog_df) if (transform is not None and not post) else changelog_df
    deduped = dedup_last_writer_wins(df, key=table.key, salted=salted_dedup)
    if post:
        deduped = transform(deduped)
    keep = set(merge_lww_by or ())
    merge_src = deduped.drop(
        *[c for c in META_COLS if c in deduped.columns and c not in keep]
    )
    snap, stats = table.merge(
        merge_src, op_col=op_col,
        lww_by=list(merge_lww_by) if merge_lww_by else None,
        mode="mor" if mor else "cow",
    )
    stats["table_version"] = snap.version if snap else None
    return stats
