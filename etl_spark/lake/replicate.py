"""Whole-catalog replication: primary ``Catalog`` -> replica ``Catalog``.

``lake.export`` replicates ONE table exactly-once through a Debezium
JSONL feed; real deployments replicate a fleet of correlated tables (a
CDC target plus its derived views, medallion layers) where the replica
must never expose a CROSS-TABLE-inconsistent state — table A at primary
transaction 12 while table B is still at 11. The reference migrates
whole databases table-by-table with no such guarantee
(/root/reference/etl.go's per-table loop); this module is the
lake-native upgrade that composes two already-tested pieces into a
consistent-cut replicator:

1. **Export at catalog pins, never at table heads.** Each tick captures
   ONE primary catalog version ``pv`` and exports every table's window
   up to its ``pv``-pinned snapshot (``export_once(to_version=...)``).
   A table head may carry a concurrent transaction's not-yet-published
   (or mid-flip) commits; the catalog pin is by construction a
   published consistency point, and the catalog's named refs keep that
   snapshot alive for the diff regardless of ``expire_snapshots``.
2. **Apply to chains, flip the catalog once.** Pending windows apply to
   the replica TABLES' chains (exactly-once via each table's
   commit-log, idempotent across crash replays); replica-catalog
   readers never see those heads — they read the catalog pins. Only
   after EVERY table has applied does one ``publish_many`` commit flip
   the whole pointer set, so the replica catalog jumps between
   cross-table-consistent cuts (each equal to the primary's state at
   some ``pv``), never through a half-applied tick.

Crash anywhere converges on the next tick: export segments are
rename-committed and cursor-reconciled, applies are commit-log-keyed
no-ops on replay, and the flip is a last-write-wins pointer set the
replicator alone owns. A crash AFTER some applies but BEFORE the flip
leaves replica heads ahead of their catalog pins — invisible to
readers, adopted by the next tick's flip.

Scale shape: per tick each table pays O(changed buckets) — a
bucket-pruned CDF diff scan + one JSONL write on the primary, one key
shuffle + bucketed MERGE on the replica; the catalog work is
O(#tables) driver-side JSON. Tables with no new pinned version skip
both halves entirely (cursor check + commit-log check, no Spark jobs),
so a quiet catalog ticks for pennies.

Ownership contract: the replica catalog and its tables belong to the
replicator. Don't write them directly, don't run
``Catalog.repair``/transactions against them (a repair would roll back
applied-but-not-yet-flipped windows the commit log already marks done).
Lost or corrupted replica state has the same recovery as single-table
replication: ``anti-entropy`` (``lake.sync``) or a feed re-bootstrap
via ``ChangeFeedExporter.reset_cursor(0)``.

Forward-only: a primary pointer REWIND (``publish`` to an older
version) is not replicated — the exporter's cursor is monotonic, so the
tick skips the table until the pointer passes the cursor again. Rewinds
are a manual-recovery shape; replicate them by re-bootstrapping the
table's feed.
"""

from __future__ import annotations

import json
import os
import time
from typing import Any

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from etl_spark.cdc.apply import apply_batch
from etl_spark.cdc.metrics import MetricsTable
from etl_spark.cdc.state import CommitLog
from etl_spark.lake.catalog import Catalog
from etl_spark.lake.export import (
    ChangeFeedExporter,
    applied_through,
    prune_feed,
    replicate_available,
)
from etl_spark.lake.table import LakeTable


class CatalogReplicator:
    """Continuously replicate every table of ``primary`` into
    ``replica``, flipping the replica atomically per tick.

    ``work_dir`` holds the per-table feeds (``feed/<name>``) and
    consumer state (``state/<name>``); bootstrapped replica tables are
    created under ``table_root`` (default ``work_dir/tables``) with the
    primary table's schema, key, bucket spec, and stats/bloom config.
    """

    def __init__(
        self,
        spark: SparkSession,
        primary: Catalog,
        replica: Catalog,
        work_dir: str,
        *,
        table_root: str | None = None,
        merge_mode: str = "cow",
        metrics: MetricsTable | None = None,
        compact_when_delta_rows: int = 0,
    ):
        self.spark = spark
        self.primary = primary
        self.replica = replica
        self.work_dir = os.path.abspath(work_dir)
        self.table_root = os.path.abspath(
            table_root or os.path.join(self.work_dir, "tables")
        )
        self.merge_mode = merge_mode
        self.metrics = metrics
        self.compact_when_delta_rows = compact_when_delta_rows

    # ------------------------------------------------------------ helpers
    def _feed_dir(self, name: str) -> str:
        return os.path.join(self.work_dir, "feed", name)

    def _state_dir(self, name: str) -> str:
        return os.path.join(self.work_dir, "state", name)

    def _check_feed_source(self, name: str, src_path: str) -> None:
        """A feed directory accumulates windows of ONE table. If the
        primary catalog re-points ``name`` at a DIFFERENT table path,
        appending its windows to the old feed would interleave two
        unrelated histories — refuse loudly; the recovery is a fresh
        feed (delete ``feed/<name>`` + ``state/<name>``, which
        re-bootstraps the name as a full load)."""
        feed = self._feed_dir(name)
        os.makedirs(feed, exist_ok=True)
        marker = os.path.join(feed, "_source.json")
        if os.path.exists(marker):
            with open(marker) as fh:
                recorded = json.load(fh)["path"]
            if recorded != src_path:
                raise RuntimeError(
                    f"catalog name {name!r} moved from table {recorded} to "
                    f"{src_path}; its feed at {feed} holds the OLD table's "
                    "windows. Remove the feed and state dirs for this name "
                    "to re-bootstrap it as a full load."
                )
            return
        tmp = marker + ".tmp"
        with open(tmp, "w") as fh:
            json.dump({"path": src_path}, fh)
        os.replace(tmp, marker)

    def _replica_table(self, name: str, src: LakeTable, pinned: int) -> LakeTable:
        """Existing replica table for ``name`` (from the replica catalog
        or a prior bootstrap), else create one cloning the primary's
        pinned-snapshot table config."""
        ent = self.replica.entries().get(name)
        path = ent["path"] if ent else os.path.join(self.table_root, name)
        if LakeTable.exists(self.spark, path):
            return LakeTable.load(self.spark, path)
        snap = src.snapshot(pinned, buckets=set())  # header-only: config
        return LakeTable.create(
            self.spark,
            path,
            schema=snap.schema,
            key=snap.key,
            n_buckets=snap.n_buckets,
            bucket_by=snap.bucket_by,
            stats_cols=snap.stats_cols,
            bloom_cols=snap.bloom_cols,
            bloom_ndv=snap.bloom_ndv,
        )

    # --------------------------------------------------------------- tick
    def tick(self) -> dict[str, Any]:
        """One replication pass: export every table's window up to its
        primary-catalog-pinned version, apply all pending windows to the
        replica tables, then flip the replica catalog ONCE. Returns the
        per-table stats plus both catalog versions."""
        t_start = time.time()
        pv = self.primary.current_version()
        entries = self.primary.entries(pv)
        updates: dict[str, tuple[LakeTable, int]] = {}
        tables: dict[str, Any] = {}
        for name in sorted(entries):
            ent = entries[name]
            src = LakeTable.load(self.spark, ent["path"])
            pinned = int(ent["version"])
            self._check_feed_source(name, src.path)
            exporter = ChangeFeedExporter(
                src, self._feed_dir(name), table_name=name
            )
            rt = self._replica_table(name, src, pinned)
            boot_rows = 0
            if exporter.cursor() == 0 and pinned > 0:
                # Parquet-native bootstrap: at 100 TB a full-load FEED
                # window ships the whole table as Debezium JSON text
                # (~10x the parquet bytes) and parses it back; instead,
                # MERGE the pinned snapshot read directly (the merge's
                # key shuffle IS the bucket partitioning the replica
                # write needs anyway) under the SAME commit-log
                # bookkeeping as a feed window (batch_id = pinned), then
                # start the feed cursor AT the pinned version — crash
                # anywhere replays as a commit-log no-op, and a later
                # feed window for this version is skipped by the marker.
                boot = apply_batch(
                    self.spark,
                    # lsn mirrors the feed envelope's (= window
                    # to_version): the LWW order column, dropped before
                    # merge as a META col
                    src.read(version=pinned)
                    .withColumn("op", F.lit("I"))
                    .withColumn("lsn", F.lit(int(pinned)).cast("long")),
                    rt,
                    batch_id=pinned,
                    source=f"catrepl-{name}",
                    commit_log=CommitLog(
                        os.path.join(self._state_dir(name), "commits")
                    ),
                    # same validator set as replicate_available: the rows
                    # are the primary's own snapshot (schema-agnostic) —
                    # the transcripts-shaped defaults don't apply
                    validators=[
                        (
                            "key_not_null",
                            F.expr(
                                " AND ".join(
                                    f"{c} IS NOT NULL" for c in rt.key
                                )
                            ),
                        )
                    ],
                    # always copy-on-write: into an empty table this is
                    # the plain bucketed write; mor would commit the
                    # WHOLE table as delta backlog for the read gate to
                    # fold until a compaction rewrites it all again
                    merge_mode="cow",
                )
                boot_rows = int(boot.get("rows_applied", 0))
                exporter.reset_cursor(pinned)
            ex = exporter.export_once(to_version=pinned)
            applied = replicate_available(
                self.spark,
                self._feed_dir(name),
                rt,
                self._state_dir(name),
                source=f"catrepl-{name}",
                merge_mode=self.merge_mode,
                check_rejects=False,  # trusted producer: this engine
                payload_schema=src.snapshot(pinned, buckets=set()).schema,
            )
            if self.compact_when_delta_rows and applied:
                # mor replicas accrue O(window) delta/patch files per
                # applied window; fold the hot buckets when the
                # manifest-summed backlog (zero I/O) crosses the
                # threshold — same backlog-aware MINOR compaction as
                # CdcStream, BEFORE the flip so readers land on the
                # compacted snapshot
                snap = rt.snapshot()
                shadow = snap.delete_source_files + snap.patch_files
                backlog = sum(f.get("rows", 0) for f in shadow)
                if backlog >= self.compact_when_delta_rows:
                    rt.compact(buckets={f["bucket"] for f in shadow})
            updates[name] = (rt, rt.current_version())
            tables[name] = {
                "export": ex,
                "windows_applied": len(applied),
                "rows_applied": boot_rows + sum(
                    int(s.get("rows_applied", 0)) for s in applied
                ),
                **({"bootstrap_rows": boot_rows} if boot_rows else {}),
            }
        dropped = sorted(set(self.replica.entries()) - set(entries))
        rv = self.replica.publish_many(
            updates, drop=dropped, op=f"replicate(pv={pv})"
        )
        if self.metrics is not None:
            # lineage row per member + one tick summary: batch_id is the
            # primary catalog version, (low_lsn, high_lsn) carry the
            # (primary, replica) catalog versions — the replication-lag
            # pair a monitor joins against the primary's head
            wall_ms = int((time.time() - t_start) * 1000)
            self.metrics.record(
                self.spark,
                [
                    {
                        "source": f"catrepl-{name}",
                        "batch_id": pv,
                        "rows_in": s["rows_applied"],
                        "rows_applied": s["rows_applied"],
                        "low_lsn": pv,
                        "high_lsn": rv,
                    }
                    for name, s in tables.items()
                ]
                + [
                    {
                        "source": "catalog-replicator",
                        "batch_id": pv,
                        "rows_in": sum(
                            s["rows_applied"] for s in tables.values()
                        ),
                        "rows_applied": sum(
                            s["rows_applied"] for s in tables.values()
                        ),
                        "low_lsn": pv,
                        "high_lsn": rv,
                        "latency_ms": wall_ms,
                    }
                ],
            )
        return {
            "primary_catalog_version": pv,
            "replica_catalog_version": rv,
            "tables": tables,
            "dropped": dropped,
        }

    # -------------------------------------------------------- maintenance
    def prune(self, *, keep_last: int = 1, dry_run: bool = False) -> dict:
        """Retire feed segments this replicator's consumers have applied
        (``prune_feed`` at each table's commit-log floor) — the feeds are
        otherwise unbounded WALs. Safe at any time: only flip-adopted
        windows can be at/below the floor (the commit marker lands
        before the flip, and a marked-but-unflipped window is already on
        the replica chain the next flip adopts), and a crashed consumer
        re-bootstraps via ``reset_cursor(0)`` exactly as in single-table
        replication. Driver-side renames only."""
        out: dict[str, Any] = {}
        feed_root = os.path.join(self.work_dir, "feed")
        if not os.path.isdir(feed_root):
            return out
        for name in sorted(os.listdir(feed_root)):
            state = self._state_dir(name)
            log = CommitLog(os.path.join(state, "commits"))
            floor = applied_through(log, f"catrepl-{name}")
            out[name] = prune_feed(
                self._feed_dir(name), floor,
                keep_last=keep_last, dry_run=dry_run,
            )
        return out
