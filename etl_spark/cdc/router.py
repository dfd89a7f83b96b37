"""Multi-table WAL routing: ONE heterogeneous change stream -> N lake
tables, atomically visible per micro-batch.

A real binlog/WAL tail is rarely single-table: Debezium emits one event
stream per *server*, each event naming its table, and the downstream
job routes rows to per-table sinks. The reference migrates a whole
database with an outer per-table loop — each table its own extract +
load pass over the source (/root/reference/etl.go:463-477,
migrate/migrate.go) — which re-reads the stream once per destination
and commits tables independently (a crash leaves table A loaded and
table B not, with nothing tying their states together). This module is
the streaming-native upgrade:

* **One scan, N sinks.** The batch is read once for the fused
  accounting pass — ONE driver action for the whole heterogeneous
  batch — and once per destination for its merge write; each
  destination's scan filter (`table = 'x'`) pushes down to the WAL
  parquet, so a destination reads only its own rows. The accounting
  pass, the validator fold, the dead-letter writer and the checkpoint
  epilogue are ``cdc.apply``'s shared batch code, the same code
  ``apply_batch`` runs: the router only adds the table column to the
  accounting grouping and states its validity and bucket id as
  per-destination CASE chains.
* **Atomic cross-table visibility.** The per-table MERGEs stage on a
  :class:`~etl_spark.lake.catalog.CatalogTransaction`'s branch handles;
  ONE catalog link-create flips every destination from batch N-1 state
  to batch N state together. Catalog readers can never observe table A
  at batch 3 and table B at batch 2 — the cross-table half of
  exactly-once that per-table commit logs alone cannot give.
* **Exactly-once end to end.** The (source, batch_id) commit marker is
  written AFTER the catalog commit (checkpoint-after-commit ordering,
  same as apply_batch); a replayed batch short-circuits on the marker.
  A crash between catalog commit and marker replays the batch: every
  re-merge lands on converged state (idempotent MERGE of the same
  deduped rows) and the catalog gains one redundant version — state is
  exactly-once, versions at-least-once, identical to the single-table
  contract. A crash MID-commit (after some fast_forward, before the
  catalog commit) leaves those chains diverged from their pointers; the
  next transaction refuses loudly and ``Catalog.repair(name)`` rolls
  them back (see lake.catalog failure semantics) — opt into
  ``repair_diverged=True`` ONLY when this router is the sole writer of
  the routed tables (repair would also roll back a foreign writer's
  unpublished commits).

Scale shape: routing metadata (key/bucket spec per destination) is
O(#tables) driver-side JSON header reads; the key-check/bucket routing
expressions are literal CASE chains (pure codegen, no join); the only
per-batch Spark work beyond apply_batch's is one filtered scan per
destination that actually has rows. Hot destinations keep apply_batch's
skew story (map-side-combined LWW dedup, salted variant).

Schema note: a heterogeneous WAL's union schema carries every
destination's payload columns (other tables' columns ride as NULL), so
the router drops columns outside each destination's CURRENT schema
before the merge — otherwise every destination would "evolve" to the
union schema. Deliberate evolution opts in per table via ``evolve``.
"""

from __future__ import annotations

import os
import time
from collections.abc import Callable, Sequence
from dataclasses import dataclass, field
from typing import Any, ClassVar

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_spark.cdc.apply import (
    _account,
    _checkpoint,
    _dead_letter,
    _fold_validators,
    dedup_last_writer_wins,
)
from etl_spark.cdc.metrics import MetricsTable
from etl_spark.cdc.state import CommitLog, WatermarkStore, filter_by_watermarks
from etl_spark.lake import LakeTable
from etl_spark.lake.table import bucket_of
from etl_spark.streaming.stream import WalTail, retry_with_backoff


def _route_infos(
    spark: SparkSession,
    catalog: Any,
    tables: Sequence[str] | None,
    batch_cols: set[str],
) -> dict[str, dict[str, Any]]:
    """Per-destination routing metadata from the catalog's PINNED
    versions (the transaction forks there, so bucket specs must match):
    key columns, bucket spec, current schema field set. O(#tables)
    driver-side header reads, no Spark jobs."""
    entries = catalog.entries()
    names = list(tables) if tables is not None else sorted(entries)
    infos: dict[str, dict[str, Any]] = {}
    for name in names:
        if name not in entries:
            raise FileNotFoundError(f"no table {name!r} in catalog")
        t = LakeTable.load(spark, entries[name]["path"])
        snap = t.snapshot(
            version=int(entries[name]["version"]), buckets=set()
        )
        missing = [k for k in snap.key if k not in batch_cols]
        if missing:
            raise ValueError(
                f"route for table {name!r} needs key column(s) {missing} "
                "in the batch schema — a WAL that cannot express a "
                "destination's key is a misconfigured route, not a "
                "dead-letter case"
            )
        infos[name] = {
            "key": list(snap.key),
            "bucket_by": list(snap.bucket_by),
            "n_buckets": int(snap.n_buckets),
            "schema_cols": set(snap.schema.fieldNames()),
        }
    return infos


def route_batch(
    spark: SparkSession,
    batch_df: DataFrame,
    catalog: Any,
    *,
    table_col: str = "dest_table",
    batch_id: int = 0,
    source: str = "wal",
    op_col: str = "op",
    tables: Sequence[str] | None = None,
    transforms: dict[str, Callable[[DataFrame], DataFrame]] | None = None,
    evolve: dict[str, Sequence[str]] | None = None,
    commit_log: CommitLog | None = None,
    watermark_store: WatermarkStore | None = None,
    metrics: MetricsTable | None = None,
    dead_letter_dir: str | None = None,
    salted_dedup: bool = False,
    merge_lww_by: Sequence[str] | None = None,
    merge_mode: str = "cow",
    repair_diverged: bool = False,
    transforms_preserve_keys_and_validity: bool = True,
) -> dict:
    """Apply one heterogeneous changelog micro-batch: route rows by
    ``table_col`` to their catalog tables, LWW-dedup per destination
    key, MERGE each on a transaction branch, flip visibility with ONE
    catalog commit. Exactly once (see module docstring for the crash
    matrix).

    ``tables`` restricts the routed destinations (default: every
    registered table). Rows naming an unregistered/NULL table — or
    failing the generic per-destination validity (key columns non-null,
    ``op`` in I/U/D) — are dead-lettered with an error label and
    counted, never silently dropped. ``transforms[name]`` runs on that
    destination's rows before its dedup; ``evolve[name]`` lists extra
    batch columns to carry INTO that table (schema evolution through
    the router is explicit — see module schema note).

    ``transforms_preserve_keys_and_validity`` is the same contract as
    ``apply_batch``'s flag: the fused accounting pass runs on the RAW
    batch, and its per-destination bucket histogram becomes each
    merge's affected-bucket set — files of unlisted buckets are kept
    VERBATIM, so a transform that rewrites key/bucket column values
    under the default promise would silently corrupt the table
    (batch rows landing in a "kept" bucket duplicate its stored keys).
    Set it False for re-keying transforms: those destinations' merges
    recount buckets from the TRANSFORMED rows (one extra count action
    per transformed destination — the fused pass still serves
    dead-letter/watermark accounting, which stays a pre-transform
    concept either way).

    Returns ``{batch_id, source, rows_in, rows_failed, catalog_version,
    tables: {name: merge_stats}}``.
    """
    t0 = time.time()
    if commit_log is not None and commit_log.is_committed(source, batch_id):
        return {"skipped": True, "batch_id": batch_id, "rows_applied": 0}

    raw = batch_df
    if watermark_store is not None:
        raw = filter_by_watermarks(raw, watermark_store.get_all())

    infos = _route_infos(spark, catalog, tables, set(raw.columns))
    if repair_diverged:
        for name in infos:
            catalog.repair(name)

    tbl = F.col(table_col)
    # literal CASE chains over the (small) destination set: the key check
    # and the DESTINATION-SPECIFIC bucket id — so the one fused accounting
    # pass yields each destination's per-bucket histogram under its own
    # bucket spec
    keys_ok = bucket = F  # F.when opens a CASE chain, Column.when extends it
    for name, info in infos.items():
        k_ok = F.col(info["key"][0]).isNotNull()
        for k in info["key"][1:]:
            k_ok = k_ok & F.col(k).isNotNull()
        keys_ok = keys_ok.when(tbl == name, k_ok)
        bucket = bucket.when(
            tbl == name, bucket_of(info["bucket_by"], info["n_buckets"])
        )
    valid_pred, err = _fold_validators([
        ("unknown_table", tbl.isin(*infos)),
        ("op_unknown", F.col(op_col).isin("I", "U", "D")),
        ("key_not_null", keys_ok),
    ])
    acct = _account(raw, bucket.otherwise(F.lit(-1)), valid_pred, dest=tbl)
    all_parts = [r for _pb, parts in acct.values() for r in parts]
    rows_in = sum(r["rows_in"] for r in all_parts)
    rows_failed = sum(r["rows_failed"] for r in all_parts)
    # rows naming an unknown table count in the batch totals only
    routed = {name: acct[name] for name in infos if name in acct}
    stats: dict = {
        "batch_id": batch_id,
        "source": source,
        "skipped": False,
        "rows_in": rows_in,
        "rows_failed": rows_failed,
        "tables": {},
    }
    if rows_failed and dead_letter_dir is not None:
        _dead_letter(raw, valid_pred, err, dead_letter_dir, batch_id)

    def _finish(applied: bool) -> dict:
        return _checkpoint(
            spark, stats, t0, source=source, batch_id=batch_id,
            commit_log=commit_log, metrics=metrics,
            # per-destination rows carry no LSN range
            metric_rows=[
                {"source": f"{source}:{name}", **r,
                 "low_lsn": None, "high_lsn": None}
                for name, (_pb, parts) in routed.items()
                for r in parts
            ],
            watermark_store=watermark_store,
            applied_parts=all_parts if applied else None,
        )

    per_table_buckets = {name: pb for name, (pb, _) in routed.items() if pb}
    if not per_table_buckets:
        stats["rows_applied"] = 0
        stats["catalog_version"] = None
        return _finish(applied=False)

    keep = set(merge_lww_by or ())
    with catalog.transaction() as txn:
        for name in sorted(per_table_buckets):
            info = infos[name]
            handle = txn.table(name)
            sub = raw.filter(valid_pred & (tbl == name))
            fn = (transforms or {}).get(name)
            if fn is not None:
                sub = fn(sub)
            deduped = dedup_last_writer_wins(
                sub, key=info["key"], salted=salted_dedup
            )
            # drop the routing column, other destinations' payload
            # columns, and engine meta (unless the guard keeps an order
            # column or `evolve` carries a brand-new column in)
            carry = info["schema_cols"] | {op_col} | keep
            carry |= set((evolve or {}).get(name, ()))
            merge_src = deduped.drop(
                *[c for c in deduped.columns if c not in carry]
            )
            # a non-preserving transform invalidates the pre-transform
            # histogram: hand merge per_bucket=None so it recounts from
            # the transformed rows (see docstring contract)
            pb = (
                per_table_buckets[name]
                if fn is None or transforms_preserve_keys_and_validity
                else None
            )
            _snap, mstats = handle.merge(
                merge_src,
                op_col=op_col,
                per_bucket=pb,
                lww_by=list(merge_lww_by) if merge_lww_by else None,
                mode=merge_mode,
            )
            stats["tables"][name] = mstats
        stats["catalog_version"] = txn.commit()

    stats["rows_applied"] = sum(
        m.get("rows_applied", m.get("source_rows", 0))
        for m in stats["tables"].values()
    )
    return _finish(applied=True)


@dataclass
class RoutedCdcStream(WalTail):
    """Structured Streaming tail of a heterogeneous WAL ->
    foreachBatch(route_batch): the multi-destination sibling of
    ``CdcStream``, with the catalog commit as each micro-batch's atomic
    visibility point. The tail itself — state directory, schema
    discovery, trigger sizing, the availableNow query, ``start()`` /
    ``run_to_completion()`` and the applied-batch cadence — is the shared
    :class:`~etl_spark.streaming.stream.WalTail` driver; this class adds
    ``route_batch`` as the per-batch apply, the watermark store and
    dead-letter directory it needs, view refresh and the per-destination
    maintenance tick."""

    # commit-log stream name: existing state dirs' markers carry it
    source_name: ClassVar[str] = "wal"
    spark: SparkSession
    wal_dir: str
    catalog: Any
    state_dir: str
    table_col: str = "dest_table"
    tables: list[str] | None = None
    transforms: dict[str, Callable[[DataFrame], DataFrame]] | None = None
    evolve: dict[str, Sequence[str]] | None = None
    op_col: str = "op"
    max_files_per_trigger: int = 8
    # row-sized trigger coalescing, same contract as CdcStream:
    # per-destination LWW dedup resolves intra-batch order, so grouping
    # more segments per trigger is order-safe; rows-per-batch bound from
    # sampled footer estimates with max_files_per_trigger as the floor
    adaptive_trigger_rows: int | None = None
    salted_dedup: bool = False
    merge_lww_by: list[str] | None = None
    # "mor" commits each destination's merge merge-on-read (O(batch)
    # bytes per table per micro-batch — the high-frequency multi-table
    # shape); pair with compact_every so every destination's delta
    # backlog stays bounded.
    merge_mode: str = "cow"
    repair_diverged: bool = False
    # False when any transforms[name] rewrites key/bucket column values:
    # those destinations' merges recount their bucket histogram from the
    # transformed rows instead of trusting the raw-batch accounting pass
    # (route_batch docstring has the full corruption story)
    transforms_preserve_keys_and_validity: bool = True
    # Maintenance cadence: every N applied batches, compact + expire
    # EVERY routed destination, then Catalog.publish the maintenance
    # commit — maintenance advances the table chain past the catalog
    # pointer, and an unadopted maintenance commit would make the next
    # transaction refuse the chain as diverged. Publishing immediately
    # (a driver-side no-data link-create; catalog pins keep published
    # versions safe from the expire) closes that window. 0 disables.
    compact_every: int = 0
    expire_keep_last: int = 3
    # Downstream incremental materialized views over routed destinations
    # (lake.derived / lake.joinview — anything with .refresh()),
    # refreshed after every applied batch, same duck-typed contract as
    # CdcStream.views: refreshes are exactly-once on their own
    # watermark, so a crashed refresh just catches up next time.
    views: list = field(default_factory=list)
    query: object = field(default=None, init=False)

    def __post_init__(self) -> None:
        super().__post_init__()
        self.watermarks = WatermarkStore(
            os.path.join(self.state_dir, "watermarks")
        )
        self.dead_letter_dir = os.path.join(self.state_dir, "dead_letter")

    def _apply(self, batch_df: DataFrame, batch_id: int) -> None:
        stats = retry_with_backoff(
            lambda: route_batch(
                self.spark,
                batch_df,
                self.catalog,
                table_col=self.table_col,
                batch_id=batch_id,
                source=self.source_name,
                op_col=self.op_col,
                tables=self.tables,
                transforms=self.transforms,
                evolve=self.evolve,
                commit_log=self.commit_log,
                watermark_store=self.watermarks,
                metrics=self.metrics,
                dead_letter_dir=self.dead_letter_dir,
                salted_dedup=self.salted_dedup,
                merge_lww_by=self.merge_lww_by,
                merge_mode=self.merge_mode,
                repair_diverged=self.repair_diverged,
                transforms_preserve_keys_and_validity=(
                    self.transforms_preserve_keys_and_validity
                ),
            ),
        )
        self._record(stats)
        self._refresh_views(stats)
        if self._due(stats, self.compact_every):
            stats["maintenance"] = self._maintenance_tick()

    def _maintenance_tick(self) -> dict:
        """Compact + expire every routed destination, adopting each
        maintenance commit into the catalog immediately (see
        compact_every comment). Folds any mor delta backlog; catalog
        pins protect published/pinned versions from the expire."""
        out: dict[str, int] = {}
        names = (
            list(self.tables)
            if self.tables is not None
            else sorted(self.catalog.entries())
        )
        for name in names:
            t = self.catalog.table(name)
            t.compact()
            if self.expire_keep_last:
                t.expire_snapshots(keep_last=self.expire_keep_last)
            out[name] = self.catalog.publish(name)
        return out
